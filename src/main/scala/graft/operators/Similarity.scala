package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`array<float>` vectors).
  *
  * Two physical shapes:
  *  - brute-force top-k: broadcast the (small) probe set against the corpus
  *    scan — a map-side nested loop, no shuffle of the corpus, scales to any
  *    corpus size with probe-set-bounded memory;
  *  - bucketed ANN (IVF-style coarse quantization via sign-LSH): both sides
  *    hash to a bucket and meet on a bucket-keyed equi-join, so the pair
  *    space shrinks by the bucket count — the 100 TB path, at the cost of
  *    recall (a probe only sees its own cell; multi-probe = explode the
  *    query's neighboring buckets).
  *
  * All double math is element-ordered identically to the DuckDB oracle SQL,
  * so scores hash-match bit-for-bit (modulo the driver's float tolerance).
  */
object Similarity {

  /** Dot product of two float-array columns in double precision (cast each
    * element *before* multiplying — float-multiply-then-widen differs in the
    * last bits and would drift from the oracle). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm in double precision. */
  def norm(e: Column): Column =
    sqrt(aggregate(
      transform(e, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def withNorm(df: DataFrame): DataFrame = df.withColumn("norm", norm(col("embedding")))

  /** DuckDB equivalents (1-based list indexing). */
  val duckNorm: String =
    "sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))"

  def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** Sign-LSH bucket from the leading 4 components (16 cells). A learned
    * IVF would replace the signs with nearest-centroid assignment; the
    * plumbing (bucket column + bucket-keyed join) is identical. */
  def bucket(e: Column): Column =
    (when(element_at(e, 1) > 0f, 8).otherwise(0)
      + when(element_at(e, 2) > 0f, 4).otherwise(0)
      + when(element_at(e, 3) > 0f, 2).otherwise(0)
      + when(element_at(e, 4) > 0f, 1).otherwise(0))

  private val duckBucket: String =
    """(CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
      | + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
      | + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
      | + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END)""".stripMargin

  /** s01 — brute-force cosine top-5 for probe vectors vec_id < 20. The
    * probe side is broadcast; the corpus side streams through the scan. */
  private def s01KnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"norm".as("qn"))
    // corpus side streams through its scan stage — spread by hand: SpreadScans
    // refuses by (b), a row_number window ranks its ties by arrival order; r20
    // s01 0.38 s with the call, 0.70 s without
    val n = Tables.spread(
      emb.select($"vec_id".as("nid"), $"embedding".as("ne"), $"norm".as("nn")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    // cosine via the COMPOSED zip_with/aggregate formulation — kept
    // deliberately: s03 is the byte-identical query through the native
    // cosine_sim expression, and only this pairing proves the
    // expression's numerics against the composed path (both sum in
    // element order, so they are bit-identical; if s01 also used the
    // expression, a numerics regression would pass both entries).
    broadcast(q).crossJoin(n)
      // zero-norm guard (r11 ADVICE): 0.0/0.0 is NaN, which would rank
      // non-deterministically and diverge from the native cosine_sim's
      // 0.0 — the exact cross-check s03 exists for. No zero embedding
      // exists in the shipped corpora, so values are unchanged there;
      // on an arbitrary corpus both paths now agree at 0.0.
      .withColumn("cosine", when($"qn" * $"nn" > 0.0,
        dot($"qe", $"ne") / ($"qn" * $"nn")).otherwise(0.0))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def knnOracle(probePred: String, k: Int): String =
    s"""WITH n AS (SELECT vec_id, label, embedding, $duckNorm AS nrm FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |        ${duckDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cosine
       |      FROM n q CROSS JOIN n e WHERE $probePred)
       |SELECT qid, rank, nid, cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM p) r
       |WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  private val s01Sql = knnOracle("q.vec_id < 20", 5)

  /** s02 — bucketed ANN: probes meet only corpus vectors in their sign-LSH
    * cell; top-3 within the cell. */
  private def s02AnnBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).withColumn("bkt", bucket($"embedding"))
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"bkt")
    val n = emb.select($"vec_id".as("nid"), $"embedding".as("ne"), $"bkt".as("nbkt"))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    q.join(n, $"bkt" === $"nbkt")
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private val s02Sql =
    s"""WITH n AS (SELECT vec_id, embedding, $duckNorm AS nrm, $duckBucket AS bkt
       |           FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |        ${duckDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cosine
       |      FROM n q JOIN n e ON q.bkt = e.bkt WHERE q.vec_id < 50)
       |SELECT qid, rank, nid, cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM p) r
       |WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  /** s03 — the same top-k as s01 computed by the native `cosine_sim`
    * Catalyst expression (fused codegen loop, no intermediate arrays) —
    * verified against the identical oracle, proving the expression's
    * numerics match the composed formulation. */
  private def s03KnnExpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s03 0.26 s with the call, 0.33 s without
    val n = Tables.spread(emb.select($"vec_id".as("nid"), $"embedding".as("ne")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    broadcast(q).crossJoin(n)
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private val s03Sql = knnOracle("q.vec_id < 20", 5)

  /** s04 — IVF ANN with a trained coarse quantizer: k-means (16 cells,
    * fixed seed) over the corpus, probes search only their own cell. This
    * is the production shape for 100 TB ANN — train the quantizer on a
    * sample, broadcast the centroid table, assign cells in a narrow map,
    * and the candidate join shrinks by the cell count; multi-probe =
    * explode each query's top-p nearest cells. KMeans isn't expressible in
    * the DuckDB oracle, so the driver records the weaker rows-only check —
    * SimilaritySpec asserts in-cell containment + self-retrieval instead. */
  /** Cells materialized per vector in the IVF artifact: rk = 1 is the
    * classic single-cell assignment (s04); ranks 2..IvfProbes feed
    * corpus-side multi-assignment (d11b), the pair-generation analog of
    * query-side multi-probe. */
  val IvfProbes = 3

  /** (vec_id, embedding, cell, rk): each vector with its [[IvfProbes]]
    * nearest centroids ranked by squared euclidean distance — ties to the
    * lowest cell id, matching KMeansModel.transform's first-minimum rule,
    * so `rk = 1` matches the model's own assignment up to floating-point
    * near-ties (transform goes through MLlib's norm-based
    * fastSquaredDistance, this pass computes the exact sum of squares —
    * a vector equidistant to two centroids can land either way; nothing
    * downstream depends on exact equivalence). Train the quantizer,
    * broadcast the 16-row centroid table, rank cells in one narrow pass
    * over the corpus, materialize.
    *
    * Trains on the full corpus at these SFs (all shipped data fits); a
    * production ingest would fit on a fixed-size sample — but a
    * sample(frac) here would be partition-layout-dependent (seed alone
    * doesn't pin Bernoulli sampling), silently varying centroids and the
    * s06/d11b recall gates across machine configs, and would never be
    * exercised by the shipped datasets anyway.
    *
    * Built ONCE per version of `embeddings` ([[graft.util.Artifacts]]) and
    * materialized: an ANN index is an ingest-time artifact that queries
    * share — s04, s06 and d11b must not each retrain the quantizer, just
    * as a real deployment reads the persisted cell assignment instead of
    * re-clustering per query. */
  private[graft] def ivfMultiAssigned(s: SparkSession, dir: String): DataFrame =
    graft.util.Artifacts.getOrBuild(s, "ivf", Seq(dir -> "embeddings"))({
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // spread by hand: the k-means fit reads its input through RDD jobs with
      // no exchange, which AQE (and so SpreadScans) never plans, and k-means||
      // seeds per partition; the build (s04's first run) took 6.26 s with the
      // call, 5.24 s without (r20)
      val emb = Tables.spread(Tables.embeddings(s, dir))
      val fit = emb.withColumn("features", array_to_vector($"embedding"))
      val model = new KMeans().setK(16).setSeed(42L).setMaxIter(5).fit(fit)
      // centroids stay double precision: truncating to float could flip
      // the distance order near ties and drift further from
      // KMeansModel.transform's assignment than fp near-ties already allow
      val cdf = model.clusterCenters.zipWithIndex.toSeq
        .map { case (v, i) => (i, v.toArray) }.toDF("cell", "cvec")
      val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell")
      emb.crossJoin(broadcast(cdf))
        .withColumn("d2", aggregate(
          zip_with($"embedding", $"cvec",
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (a, x) => a + x))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= IvfProbes)
        .select($"vec_id", $"embedding", $"cell", $"rk")
        .localCheckpoint()
    })

  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfMultiAssigned(s, dir).filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"cell")
  }

  /** IVF top-3 for probes vec_id < 50: candidates meet on the cell key. */
  private def ivfTop3(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    val q = assigned.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cell")
    val n = assigned.select($"vec_id".as("nid"), $"embedding".as("ne"),
      $"cell".as("ncell"))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    q.join(n, $"cell" === $"ncell")
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid", $"cosine")
  }

  private def s04AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfTop3(ivfAssigned(s, dir)).orderBy($"qid", $"rank")
  }

  /** Measured recall@3 of `approx` (qid, nid) against the exact
    * brute-force top-3 over the 50 probes, as a one-row (recall) frame —
    * ONE definition of the ground truth for every gated index
    * (s06/s09/s11) AND the profiling tool, so a tie-break or probe-count
    * change can never make gates and recorded floors measure different
    * ground truths. Probes whose entire exact top-3 is missed don't
    * appear in the overlap; the average runs over all 50 probes, not
    * just the ones with hits. */
  /** The exact brute-force top-3 as an ARTIFACT (r17): every gate
    * (s06/s09/s11) measures against the SAME 50-probe ground truth, so
    * recomputing the brute cross join + top-k window inside each gate
    * repeated identical work three times per pass (ANN-benchmarks caches
    * its ground truth for the same reason). 150 rows, localCheckpointed;
    * built once per version of `embeddings` at the first gate's warm-up
    * run, released with every other family artifact. */
  private def exactTop3(s: SparkSession, dir: String): DataFrame =
    graft.util.Artifacts.getOrBuild(s, "exact_top3", Seq(dir -> "embeddings")) {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      // spread by hand: SpreadScans refuses by (b), a row_number window ranks
      // its ties by arrival order; the build (s06's first run) took 1.82 s
      // with the call, 1.71 s without (r20)
      val n = Tables.spread(emb.select($"vec_id".as("nid"), $"embedding".as("ne")))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
      broadcast(q).crossJoin(n)
        .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"nid")
        .localCheckpoint()
    }

  private[graft] def recallAt3(s: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    import s.implicits._
    val exact = exactTop3(s, dir)
    val overlap = exact.join(approx, Seq("qid", "nid"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
    exact.select($"qid").distinct()
      .join(overlap, Seq("qid"), "left")
      .agg((sum(coalesce($"n_hits", lit(0L))).cast("double")
        / (count(lit(1)) * 3)).as("recall"))
  }

  /** The boolean gate over [[recallAt3]] — the driver-hash-checked
    * contract (oracle expects `true`). */
  private def recallGate(s: SparkSession, dir: String, approx: DataFrame,
      floor: Double): DataFrame = {
    import s.implicits._
    recallAt3(s, dir, approx).select(($"recall" >= floor).as("recall_ok"))
  }

  /** s06 — measured recall of the k-means IVF (s04) against exact
    * brute-force ground truth, computed IN the query: both top-3 sets are
    * built over the same 50 probes, matched on (qid, nid), and the mean
    * per-probe overlap must clear a floor. The k-means quantizer is not
    * SQL-expressible, but this contract is — the oracle expects `true`, so
    * the driver hash-checks the index quality every round (the answer to
    * "self-retrieval at rank 1 does not validate the index"). The floor
    * (0.45) sits under the measured 0.56–0.60 across sf0.001–0.1
    * (deterministic: fixed k-means seed) but far above the ~1% a broken
    * index would score. */
  private def s06AnnIvfRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recallGate(s, dir, ivfTop3(ivfAssigned(s, dir)).select($"qid", $"nid"), 0.45)
  }

  private val s06Sql = "SELECT true AS recall_ok"

  /** s05 — multi-probe ANN: each query probes its own sign-LSH cell plus
    * the 4 cells at hamming distance 1 (one flipped hyperplane bit) —
    * the standard recall/latency knob: candidate volume grows 5×, recall
    * approaches brute force for near-boundary vectors. Deterministic and
    * SQL-expressible, so fully oracle-checked (unlike the k-means IVF). */
  private def s05AnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).withColumn("bkt", bucket($"embedding"))
    val probes = array((0 to 4).map {
      case 0 => $"bkt"
      case b => $"bkt".bitwiseXOR(lit(1 << (b - 1)))
    }: _*)
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        explode(probes).as("probe"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s05 0.34 s with the call, 0.33 s without
    val n = Tables.spread(
      emb.select($"vec_id".as("nid"), $"embedding".as("ne"), $"bkt".as("nbkt")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    q.join(n, $"probe" === $"nbkt")
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private val s05Sql =
    s"""WITH e AS (SELECT vec_id, embedding, $duckBucket AS bkt FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, unnest(
       |        [bkt, xor(bkt, 1), xor(bkt, 2), xor(bkt, 4), xor(bkt, 8)]) AS probe
       |      FROM e WHERE vec_id < 50),
       |p AS (SELECT q.qid, n.vec_id AS nid,
       |        ${duckDot("q.qe", "n.embedding")}
       |          / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))
       |             * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
       |      FROM q JOIN e n ON q.probe = n.bkt)
       |SELECT qid, rank, nid, cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM p) r
       |WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  /** s07 — kNN over int8 scalar-quantized codes, the memory-side scale
    * lever (a float32 corpus quantized to int8 is 4× smaller, so 4× more
    * index per executor — orthogonal to the candidate-pruning levers in
    * s02/s04/s05, and the two compose): per-vector symmetric quantization
    * code_i = round(x_i / (max|x| / 127)), then cosine OVER THE CODES —
    * the per-vector scales cancel in cosine, so no dequantization is
    * needed at scoring time and the hot loop is integer arithmetic.
    * Every step is deterministic arithmetic (unlike the k-means IVF), so
    * the whole pipeline — quantize, score, rank — is DuckDB-expressible
    * and fully hash-checked, approximation error included. */
  private def s07KnnInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // max|x|/127 in double; codes are exact small ints, so every later
    // product/sum is exactly representable in double — bit-identical to
    // the oracle regardless of accumulation order. The scale aggregate
    // is BOUND to a column before the quantizing transform: inlined in
    // the lambda it would re-evaluate per element (O(dim²) per row, the
    // interpreted-HOF pitfall Dedup.withSh3 documents) and a third time
    // in the all-zero filter.
    // codes re-cast to float for the native cosine_sim expression: ints
    // ≤ 127 are exact in float AND double, so the codegen'd loop computes
    // the same rationals as the oracle's integer arithmetic — and one
    // fused pass per pair replaces three interpreted zip_with/aggregate
    // trees (measured 5.2 s → ~1 s at sf0.1). All-zero vectors are
    // excluded up front: their scale is 0 and x/0 diverges between
    // engines (Spark NaN vs DuckDB NULL) — cosine is undefined for them
    // anyway, and dropping them on BOTH sides keeps the hash contract
    // valid on arbitrary corpora (none exist in the shipped SFs).
    val coded = emb
      .withColumn("scl", aggregate(
        transform($"embedding", x => abs(x.cast("double"))),
        lit(0.0), (a, x) => greatest(a, x)) / 127.0)
      .filter($"scl" > 0.0)
      .select($"vec_id",
        transform($"embedding",
          x => round(x.cast("double") / $"scl").cast("float")).as("code"))
    val q = coded.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"code".as("qc"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s07 0.75 s with the call, 1.12 s without
    val n = Tables.spread(coded.select($"vec_id".as("nid"), $"code".as("nc")))
    val w = Window.partitionBy($"qid").orderBy($"qcosine".desc, $"nid")
    broadcast(q).crossJoin(n)
      .withColumn("qcosine", CosineSimilarity.column($"qc", $"nc"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"qcosine")
      .orderBy($"qid", $"rank")
  }

  private val s07Sql = {
    def cdot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] * $b[i])::DOUBLE))"
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding,
       |      x -> CAST(round(x::DOUBLE / (list_max(list_transform(embedding, y -> abs(y::DOUBLE))) / 127.0)) AS INTEGER)) AS code
       |  FROM embeddings
       |  WHERE list_max(list_transform(embedding, y -> abs(y::DOUBLE))) > 0),
       |p AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
       |        ${cdot("q.code", "n.code")}
       |          / (sqrt(${cdot("q.code", "q.code")}) * sqrt(${cdot("n.code", "n.code")})) AS qcosine
       |      FROM c q CROSS JOIN c n WHERE q.vec_id < 20)
       |SELECT qid, rank, nid, qcosine FROM (
       |  SELECT qid, nid, qcosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY qcosine DESC, nid) AS rank
       |  FROM p) r
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  // ---- product quantization (s08/s09) -----------------------------------

  /** PQ layout: 64-dim vectors cut into [[PqM]] subspaces of 8 dims, each
    * quantized against its own [[PqK]]-centroid codebook. A corpus vector
    * becomes PqM 4-bit codes — 4 bytes instead of 256 (float32): with IVF
    * (s04) pruning candidates and PQ shrinking what remains, an executor
    * holds 64× more index, which is the difference between an in-memory
    * and a disk-bound ANN serve at 100 TB. */
  val PqM = 8
  val PqK = 16
  private val PqDim = 64

  /** Driver-side training-set cap (vectors), see [[pqArtifact]]. */
  val PqTrainVectors = 100000

  private def subvectors(e: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)),
      m => slice(e, m * lit(PqDim / PqM) + 1, lit(PqDim / PqM)))

  /** Seeded Lloyd's k-means with k-means++ init, run ON THE DRIVER.
    * PQ codebooks train on a bounded sample BY DESIGN (a few 8-dim
    * points per centroid suffice; FAISS trains its quantizers locally
    * the same way), so the training set fits on the driver at any corpus
    * scale — only encode and scoring must be distributed. Replacing the
    * 8 MLlib fits removed ~1 s of per-fit job-scheduling overhead each
    * (the fits were scheduling-bound at every shipped SF: 13–28 s → ms).
    * Deterministic: seeded init over input sorted by caller, ties to the
    * lowest centroid index, fixed iteration count; an empty cluster
    * keeps its previous centroid. */
  private[graft] def kmeansLloyd(points: Array[Array[Double]], k: Int,
      seed: Long, iters: Int): Array[Array[Double]] = {
    require(points.length >= k, s"need >= $k training points")
    val rnd = new scala.util.Random(seed)
    val dim = points.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = Array.ofDim[Array[Double]](k)
    centers(0) = points(rnd.nextInt(points.length)).clone()
    val minD2 = points.map(d2(_, centers(0)))
    for (c <- 1 until k) {
      val total = minD2.sum
      var target = rnd.nextDouble() * total
      var idx = 0
      while (idx < points.length - 1 && target > minD2(idx)) {
        target -= minD2(idx); idx += 1
      }
      centers(c) = points(idx).clone()
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), centers(c))
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
    }
    // Lloyd iterations
    val assign = Array.ofDim[Int](points.length)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = d2(points(i), centers(0)); var c = 1
        while (c < k) {
          val d = d2(points(i), centers(c))
          if (d < bestD) { bestD = d; best = c } // strict: ties keep lowest c
          c += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k)(Array.ofDim[Double](dim))
      val counts = Array.ofDim[Int](k)
      i = 0
      while (i < points.length) {
        val c = assign(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += points(i)(j); j += 1 }
        i += 1
      }
      for (c <- 0 until k if counts(c) > 0) {
        var j = 0
        while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
      }
    }
    centers
  }

  /** The subvectors of every corpus vector: (vec_id, m, subvec). */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).select($"vec_id", posexplode(subvectors($"embedding")))
      .toDF("vec_id", "m", "subvec")
  }

  /** The PQ codebook (cm, cell, cvec), PqM·PqK rows, trained once per
    * version of `embeddings` like the IVF quantizer and checkpointed, so
    * every session reads the same centroids. */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    graft.util.Artifacts.getOrBuild(s, "pq_codebook", Seq(dir -> "embeddings")) {
      import s.implicits._
      // training set to the driver, CAPPED so "bounded by design" is a
      // property of the code, not the shipped data: the deterministic
      // lowest-[[PqTrainVectors]] ids (far above every shipped corpus, so
      // measured recalls are unaffected; a few hundred 8-dim points per
      // centroid is already more than PQ training needs). Sorted for an
      // order-independent, deterministic training input.
      val train = pqSubvectors(s, dir).sort($"vec_id", $"m").limit(PqTrainVectors * PqM)
        .as[(Long, Int, Array[Float])].collect()
        .map { case (v, m, a) => (m, v, a.map(_.toDouble)) }
      val codebooks = (0 until PqM).map { m =>
        val pts = train.filter(_._1 == m).sortBy(_._2).map(_._3)
        kmeansLloyd(pts, PqK, seed = 42L + m, iters = 10)
      }
      codebooks.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, cell) => (m, cell, c) }
      }.toDF("cm", "cell", "cvec").localCheckpoint()
    }

  /** (codes, codebook): codes = one (vec_id, m, code) row per subspace,
    * encoded once per version of `embeddings` against [[pqCodebook]].
    * Encoding is ONE pass: explode each vector into its subvectors,
    * broadcast-join the 128-row codebook, keep the nearest cell per
    * (vec_id, m). */
  private[graft] def pqArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cdf = pqCodebook(s, dir)
    val codes = graft.util.Artifacts.getOrBuild(s, "pq_codes", Seq(dir -> "embeddings")) {
      import s.implicits._
      val w = Window.partitionBy($"vec_id", $"m").orderBy($"d2".asc, $"cell")
      pqSubvectors(s, dir).join(broadcast(cdf), $"m" === $"cm")
        .withColumn("d2", aggregate(
          zip_with($"subvec", $"cvec",
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (a, x) => a + x))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"vec_id", $"m", $"cell".as("code"))
        .localCheckpoint()
    }
    (codes, cdf)
  }

  /** ADC (asymmetric distance computation) top-3: the query stays exact;
    * per query a 128-entry table of (subspace, cell) partial dots is
    * precomputed against the codebook and BROADCAST, so scoring a corpus
    * vector is PqM table lookups summed — a broadcast equi-join plus a
    * map-side-combinable aggregation, never a scan of the float corpus.
    * The reconstruction norm comes from the same table (centroid
    * self-dots), making the approximate cosine self-contained in code
    * space. */
  /** The 50 probes with exact norms: (qid, qe, qnorm). */
  private def pqProbes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withNorm(Tables.embeddings(s, dir).filter($"vec_id" < 50))
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"norm".as("qnorm"))
  }

  /** Per-query ADC lookup table — (tqid, qm, tcell, pdot, pnorm2), one
    * row per (probe, subspace, centroid): the partial dot of the probe's
    * exact subvector with each centroid, plus the centroid self-dot for
    * the reconstruction norm. ONE definition shared by s08 and s10 — the
    * two indexes must score with the same approximation or the recall
    * gates stop being comparable. PqM·PqK rows per probe; always
    * broadcast. */
  private def adcTable(probes: DataFrame, cdf: DataFrame): DataFrame = {
    import probes.sparkSession.implicits._
    probes.select($"qid", posexplode(subvectors($"qe")))
      .toDF("qid", "qm", "qsubvec")
      .join(broadcast(cdf), $"qm" === $"cm")
      .select($"qid".as("tqid"), $"qm", $"cell".as("tcell"),
        aggregate(zip_with($"qsubvec", $"cvec", (x, y) => x.cast("double") * y),
          lit(0.0), (a, x) => a + x).as("pdot"),
        aggregate(transform($"cvec", y => y * y), lit(0.0), (a, x) => a + x).as("pnorm2"))
  }

  /** Rank ADC-scored pairs and keep the top 3 per probe: `scored` must
    * carry (qid, nid, adot, anorm2); probe norms join in here. */
  private def adcTop3(scored: DataFrame, probes: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val w = Window.partitionBy($"qid").orderBy($"qcosine".desc, $"nid")
    scored.join(broadcast(probes.select($"qid", $"qnorm")), Seq("qid"))
      .withColumn("qcosine", $"adot" / ($"qnorm" * sqrt($"anorm2")))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
  }

  private def pqTop3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (codes, cdf) = pqArtifact(s, dir)
    val probes = pqProbes(s, dir)
    val table = adcTable(probes, cdf)
    val scored = codes
      .join(broadcast(table), $"m" === $"qm" && $"code" === $"tcell")
      .groupBy($"tqid".as("qid"), codes("vec_id").as("nid"))
      .agg(sum($"pdot").as("adot"), sum($"pnorm2").as("anorm2"))
    adcTop3(scored, probes)
  }

  /** IVF-PQ composed top-3 — the two levers TOGETHER, the standard
    * production ANN shape (FAISS IVFPQ): the coarse quantizer (s04's
    * k-means cells) prunes candidates to the probe's cell, then PQ/ADC
    * scores only those survivors from 4-byte codes — at 100 TB the scan
    * is 1/16th of the corpus and what it reads is 64× smaller, and the
    * two artifacts are the SAME ingest products s04 and s08 already
    * share. Plan shape: cell equi-join (candidates) ⋈ codes ⋈ broadcast
    * ADC table, summed per pair map-side. */
  private def ivfPqTop3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assigned = ivfAssigned(s, dir)
    val (codes, cdf) = pqArtifact(s, dir)
    val probes = pqProbes(s, dir)
    val cand = probes
      .join(assigned.select($"vec_id".as("qid"), $"cell".as("qcell")), Seq("qid"))
      .join(assigned.select($"vec_id".as("nid"), $"cell".as("ncell")), $"qcell" === $"ncell")
      .select($"qid", $"nid")
    val table = adcTable(probes, cdf)
    val scored = cand.join(codes, cand("nid") === codes("vec_id"))
      .join(broadcast(table),
        $"qid" === $"tqid" && $"m" === $"qm" && $"code" === $"tcell")
      .groupBy($"qid", $"nid")
      .agg(sum($"pdot").as("adot"), sum($"pnorm2").as("anorm2"))
    adcTop3(scored, probes)
  }

  /** s10 — IVF-PQ ANN (rows-only, like s04/s08; s11 is the gate). */
  private def s10AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfPqTop3(s, dir).orderBy($"qid", $"rank")
  }

  /** s11 — recall@3 gate for the composed index: the floor (0.25)
    * allows BOTH approximations compounding (cell pruning ∩ code
    * ranking; measured 0.38–0.45 across sf0.001–0.1, deterministic —
    * barely below pure PQ's 0.41–0.47, i.e. the cell restriction costs
    * little recall while cutting the candidate scan 16×) yet still sits
    * far above a broken index's ~1% — and the gate pins the composition
    * end to end, not just each half. */
  private def s11AnnIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recallGate(s, dir, ivfPqTop3(s, dir).select($"qid", $"nid"), 0.25)
  }

  private val s11Sql = "SELECT true AS recall_ok"

  /** s08 — PQ/ADC ANN. K-means codebooks are not SQL-expressible, so the
    * driver records the rows-only check; s09 is the driver-hash-checked
    * quality gate, exactly the s04/s06 split. */
  private def s08AnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqTop3(s, dir).orderBy($"qid", $"rank")
  }

  /** s09 — measured recall@3 of PQ/ADC against exact brute force over the
    * same 50 probes (the s06 contract for the PQ index): floor 0.30 sits
    * under the measured 0.41–0.47 across sf0.001–0.1 (deterministic:
    * fixed seeds) but far above the ~1% a broken codebook would score. PQ recall is intrinsically below
    * IVF's here — 4-byte codes on unclustered synthetic vectors is an
    * aggressive 64× compression — and rank-1 self-retrieval (cosine 1.0
    * reconstructs near its own centroids) plus the floor catch both
    * failure modes (dead codebook, wrong table join). */
  private def s09AnnPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recallGate(s, dir, pqTop3(s, dir).select($"qid", $"nid"), 0.30)
  }

  private val s09Sql = "SELECT true AS recall_ok"

  /** s12 — filtered vector search: exact top-5 among ONLY the corpus
    * vectors matching a metadata predicate (`label = 3` here; "docs in
    * this language / after this date / from this source" in production).
    * This is PRE-filtering: the predicate lands on the corpus scan
    * (parquet `PushedFilters`, spec-asserted) BEFORE any distance is
    * computed, so top-k is exact over the filtered set. The alternative
    * — post-filtering an unfiltered ANN's top-k — silently returns
    * FEWER than k (or zero) rows whenever the predicate is selective,
    * which is the classic filtered-search bug in vector stores.
    *
    * Scale shape: selectivity decides the plan. A selective predicate
    * (here ~10%) shrinks the corpus to where brute-force-over-filtered
    * is both exact and cheaper than index probing (100 TB × 1% = 1 TB
    * scored straight off the pruned scan); a non-selective one keeps
    * the IVF path (s04) with the predicate applied inside each probed
    * cell — same cells, one extra pushed filter. Both compose from the
    * pieces already here; this entry pins the exact-filtered semantics
    * an index-filtered variant must reproduce. */
  private def s12KnnFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s12 0.15 s with the call, 0.25 s without
    val n = Tables.spread(emb.filter($"label" === 3)
      .select($"vec_id".as("nid"), $"embedding".as("ne")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    broadcast(q).crossJoin(n)
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private val s12Sql = knnOracle("q.vec_id < 20 AND e.label = 3", 5)

  /** Binary sign code: 63 sign bits of the embedding packed into one
    * BIGINT (bit j set ⇔ component j+1 > 0). 63, not 64: the sum of
    * distinct powers of two stays inside the positive range of a signed
    * 64-bit integer, so neither engine's ANSI overflow check can fire —
    * the 64th component simply doesn't vote. 8 bytes per vector ≈ 32×
    * smaller than the float64[64] row: the compression regime where a
    * 100 TB corpus's code table fits a cluster's memory. */
  def signCode(e: Column): Column =
    (0 until 63).map(j => when(element_at(e, j + 1) > 0f, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  private val duckSignCode: String =
    """list_sum(list_transform(generate_series(1, 63),
      |  j -> CASE WHEN embedding[j] > 0 THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))::BIGINT"""
      .stripMargin

  /** s13 — kNN over binary sign codes by HAMMING distance: the
    * binary-embedding baseline (SimHash-for-vectors). Distance =
    * `bit_count(qcode XOR ncode)` — one codegen'd instruction pair per
    * comparison over 8-byte codes, no floating point at all, which is
    * why binary first-stage retrieval is the cheapest filter a vector
    * pipeline has. Exact integer arithmetic end to end → hash-checked,
    * approximation included (same contract as s07's int8 path).
    * Sign-random-projection theory: E[hamming/bits] = angle/π, so the
    * hamming ranking estimates the cosine ranking; s14 measures how well. */
  private def s13KnnHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val codes = emb.select($"vec_id", signCode($"embedding").as("code"))
    val q = codes.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"code".as("qc"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s13 0.52 s with the call, 1.22 s without
    val n = Tables.spread(codes.select($"vec_id".as("nid"), $"code".as("nc")))
    val w = Window.partitionBy($"qid").orderBy($"hamming".asc, $"nid")
    broadcast(q).crossJoin(n)
      .withColumn("hamming", bit_count($"qc".bitwiseXOR($"nc")))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"hamming")
      .orderBy($"qid", $"rank")
  }

  private val s13Sql =
    s"""WITH c AS (SELECT vec_id, $duckSignCode AS code FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |        bit_count(xor(q.code, e.code)) AS hamming
       |      FROM c q CROSS JOIN c e WHERE q.vec_id < 20)
       |SELECT qid, rank, nid, hamming FROM (
       |  SELECT qid, nid, hamming,
       |    row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rank
       |  FROM p) r
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** s14 — the binary two-stage pipeline: Hamming SHORTLIST (top-32 by
    * code distance — integer work over 8-byte codes) then exact cosine
    * RERANK of only the shortlist (float work on 32 candidates per probe
    * instead of the whole corpus). This is the production shape for
    * binary codes — the code stage bounds the float stage's input by
    * construction, and at 100 TB the full-precision vectors are fetched
    * for 32 rows per query, not scanned. Both stages are deterministic
    * (hamming ties → nid), so the oracle reproduces the exact shortlist
    * and the result hash-checks — unlike a recall-gated index, the
    * approximation here is pinned pair-for-pair. */
  private def s14HammingRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val coded = emb.select($"vec_id", $"embedding", signCode($"embedding").as("code"))
    val q = coded.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"code".as("qc"))
    // spread by hand: SpreadScans refuses by (b), a row_number window ranks
    // its ties by arrival order; r20 s14 0.51 s with the call, 1.83 s without
    val n = Tables.spread(coded.select($"vec_id".as("nid"), $"embedding".as("ne"), $"code".as("nc")))
    val wH = Window.partitionBy($"qid").orderBy($"hamming".asc, $"nid")
    val wC = Window.partitionBy($"qid").orderBy($"cosine".desc, $"nid")
    broadcast(q).crossJoin(n)
      .withColumn("hamming", bit_count($"qc".bitwiseXOR($"nc")))
      .withColumn("hrank", row_number().over(wH))
      .filter($"hrank" <= 32)
      .withColumn("cosine", CosineSimilarity.column($"qe", $"ne"))
      .withColumn("rank", row_number().over(wC))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private val s14Sql =
    s"""WITH c AS (SELECT vec_id, embedding, $duckNorm AS nrm, $duckSignCode AS code
       |           FROM embeddings),
       |h AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |        bit_count(xor(q.code, e.code)) AS hamming,
       |        ${duckDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cosine
       |      FROM c q CROSS JOIN c e WHERE q.vec_id < 20),
       |short AS (SELECT qid, nid, cosine FROM (
       |    SELECT qid, nid, cosine,
       |      row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS hrank
       |    FROM h) x
       |  WHERE hrank <= 32)
       |SELECT qid, rank, nid, cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM short) r
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  // ---- s15/s16: persistent inverted-list index --------------------------

  /** Persist a vector corpus as an INVERTED-LIST ANN index: the rows
    * written `partitionBy(cell)` on the deterministic sign-LSH cell —
    * one directory per inverted list, the FAISS layout re-expressed as
    * a partitioned parquet table. A probe set touching p of the 16
    * lists reads p/16 of the corpus at the SCAN: cell routing becomes
    * partition PRUNING (the file index never lists the unprobed
    * directories), not a filter over a full read. d18 answered "never
    * shuffle the corpus side"; this answers "never even READ the
    * unprobed corpus" — at 100 TB bytes-scanned is the cost model, and
    * an ANN query's floor is the probed lists' bytes, nothing else.
    * Directory partitioning, not bucketing, is the right tool here: the
    * pruning key has tiny cardinality (16 lists) and the consumer joins
    * a BROADCAST probe side, so co-partitioning buys nothing — skipping
    * whole directories buys everything. */
  def writeVectorIndex(emb: DataFrame, table: String): Unit =
    writeAssignedIndex(
      emb.select(col("vec_id"), col("embedding"), bucket(col("embedding")).as("cell")),
      table, cellFn = "sign-lsh")

  /** The layout core shared with the LEARNED-quantizer variant (s17):
    * persist pre-assigned (vec_id, embedding, cell) rows partitioned by
    * cell. The cell function is the caller's — deterministic sign-LSH
    * ([[writeVectorIndex]]) or a trained coarse quantizer's assignment
    * ([[s17 below]]); the inverted-list economics are identical.
    * `cellFn` is RECORDED as a table property: the maintenance entry
    * points check it, so a sign-LSH append can never silently file
    * vectors into a learned quantizer's lists (wrong cell = the vector
    * is never probed again — permanent silent recall loss). */
  def writeAssignedIndex(assigned: DataFrame, table: String,
      cellFn: String = "external"): Unit = {
    val s = assigned.sparkSession
    graft.plans.Bucketing.reclaim(s, table)
    assigned.select(col("vec_id"), col("embedding"), col("cell"))
      .write.format("parquet")
      .partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(table)
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.cellfn' = '$cellFn')")
  }

  /** Ingest-time maintenance: assign cells in a narrow map and append
    * into the existing lists (partition columns mirrored from the
    * catalog, so an append can never silently change the layout; the
    * [[graft.operators.Dedup.appendBandIndex]] discipline, including
    * the relation-cache refresh for the calling session). */
  def appendVectorIndex(s: SparkSession, table: String, newVectors: DataFrame): Unit = {
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val parts = meta.partitionColumnNames
    require(parts == Seq("cell"),
      s"$table is not a vector index table (partitions: $parts)")
    // the partition LAYOUT alone cannot distinguish a sign-LSH index
    // from a learned-quantizer one (s17) — and assigning here with the
    // wrong cell function would file vectors into lists the probe
    // routing never reads (silent, permanent recall loss). The cell
    // function identity is a table property; anything else must append
    // pre-assigned rows via [[appendAssignedIndex]].
    val cellFn = meta.properties.getOrElse("graft.cellfn", "unknown")
    require(cellFn == "sign-lsh",
      s"$table's cells were assigned by '$cellFn', not sign-LSH — " +
      "append pre-assigned rows via appendAssignedIndex instead. " +
      "(If this IS a sign-LSH index whose build crashed between " +
      "saveAsTable and the property write, or one built before the " +
      "property existed, repair with: ALTER TABLE " + table +
      " SET TBLPROPERTIES ('graft.cellfn' = 'sign-lsh'))")
    appendAssignedRows(s, table, parts, meta.location,
      newVectors.select(col("vec_id"), col("embedding"),
        bucket(col("embedding")).as("cell")))
  }

  /** [[appendVectorIndex]] for an index whose cells were assigned by an
    * EXTERNAL function (a trained coarse quantizer, s17): the caller
    * assigns, this maintains — same heal + mirrored-layout + refresh
    * discipline. */
  def appendAssignedIndex(s: SparkSession, table: String, assigned: DataFrame): Unit = {
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val parts = meta.partitionColumnNames
    require(parts == Seq("cell"),
      s"$table is not a vector index table (partitions: $parts)")
    appendAssignedRows(s, table, parts, meta.location,
      assigned.select(col("vec_id"), col("embedding"), col("cell")))
  }

  private def appendAssignedRows(s: SparkSession, table: String,
      parts: Seq[String], location: java.net.URI, rows: DataFrame): Unit = {
    // heal pending compaction swaps BEFORE writing (the Sink.mergeInto
    // discipline): an append into a cell whose directory is missing —
    // parked in `.compact.bak` by a crashed compaction — would RECREATE
    // the directory with only the new rows, permanently stranding the
    // parked list (recoverSwap requires the original missing, and the
    // next compaction would delete the bak as stale)
    recoverLists(s, new org.apache.hadoop.fs.Path(location))
    rows.write.format("parquet")
      .partitionBy(parts: _*)
      .mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(table)
    s.catalog.refreshTable(table)
    // writer invalidation (r12): the index just grew on disk — any
    // session listing cache over its location must re-list
    graft.cache.HybridScan.invalidateListings(location.toString)
  }

  /** Repair every list whose compaction died mid-swap: data parked in
    * `.cell=N.compact.bak` with the original dir missing is swapped
    * back ([[graft.sources.Sink.recoverSwap]]); a bak whose original
    * EXISTS is the post-swap-in crash window (the swap completed, only
    * the cleanup died) — the bak is a stale full copy of the list and
    * is deleted, or it would be retained forever (the freshly compacted
    * one-file list never re-enters compaction to clean it). Single
    * maintainer assumed, as throughout Sink. */
  private def recoverLists(s: SparkSession, root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".cell=")
        && st.getPath.getName.endsWith(".compact.bak"))
      .foreach { b =>
        val orig = new Path(root,
          b.getPath.getName.stripPrefix(".").stripSuffix(".compact.bak"))
        if (fs.exists(orig)) fs.delete(b.getPath, true) // completed swap's leftover
        else graft.sources.Sink.recoverSwap(s, orig.toString)
      }
  }

  /** Top-k against a [[writeVectorIndex]] table: compute each probe's
    * cell set, ROUTE by collecting the distinct probed cells into an
    * IN-list literal (≤16 rows — the index router is driver-side by
    * design, exactly as a FAISS deployment holds the coarse structure
    * in the client), scan only those lists, broadcast the probes into
    * them. `probeCells` is (qid, qe, cell), possibly multi-row per qid
    * (multi-probe); candidates meet on the cell key and the per-qid
    * top-k runs over the union of the probed lists. */
  def indexedTopK(s: SparkSession, table: String, probeCells: DataFrame,
      k: Int, excludeIds: Option[DataFrame] = None,
      distinctCandidates: Boolean = true): DataFrame = {
    val cells = probeCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val routed = s.table(table).filter(col("cell").isin(cells.map(Int.box): _*))
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("cell"))
    // exclusion BEFORE ranking (a post-rank filter would leave holes in
    // the top-k): broadcast anti-join, excluded-set-sized, never
    // corpus-sized — the ingest loop's replay-safety hook
    val lists = excludeIds.fold(routed)(ex =>
      routed.join(broadcast(ex.select(col("vec_id").as("nid"))), Seq("nid"), "left_anti"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    val cand0 = lists.join(broadcast(probeCells), Seq("cell"))
      .withColumn("cosine", CosineSimilarity.column(col("qe"), col("ne")))
    // a replayed append duplicates list rows; under row_number a duplicate
    // nid would occupy TWO top-k slots and displace a real neighbor —
    // candidate-level dedup (candidate-sized, not corpus-sized) makes the
    // ranking immune. ON by default: the public entry point serves
    // append-maintained tables, where a crash-replayed append leaves
    // duplicates permanently. The build-once query paths (s15/s16) opt
    // OUT — duplicates are impossible there and the extra shuffle is waste.
    val cand = if (distinctCandidates) cand0.dropDuplicates("qid", "nid") else cand0
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** One micro-batch's corpus-side top-k: the index queried with the
    * batch's vectors as probes, the batch's OWN vec_ids excluded from
    * the list side. The exclusion is STRUCTURAL replay safety (the
    * [[graft.operators.Dedup.batchCandidates]] discipline): the result
    * is correct whether or not this batch's vectors already reached the
    * index — a crash-replayed micro-batch re-running after its append
    * committed, or a frame evaluated only after the append, can never
    * retrieve a vector as its own neighbor. */
  def batchTopK(s: SparkSession, table: String, batch: DataFrame, k: Int): DataFrame =
    indexedTopK(s, table,
      batch.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        bucket(col("embedding")).as("cell")),
      k, excludeIds = Some(batch), distinctCandidates = true)

  /** The vector-ingestion loop as a STREAM — the ANN leg of the
    * ingestion story ([[graft.operators.Dedup.ingestStream]] covers LSH
    * bands, [[graft.operators.Dedup.ingestExactStream]] content hashes).
    * Per micro-batch of (vec_id, embedding): retrieve each arriving
    * vector's corpus-side top-k from the persistent inverted lists
    * (pruned to the batch's probed cells), hand the results to the
    * caller's sink, then append the batch into the lists so the NEXT
    * batch sees it as corpus. Replays are tolerable by construction:
    * the structural self-exclusion in [[batchTopK]] keeps a replayed
    * batch from retrieving itself, and its candidate-level dedup keeps
    * a duplicate append's repeated list rows from occupying two top-k
    * slots. `onResults` must CONSUME its frame within the call (the
    * [[graft.operators.Dedup.ingestExactStream]] contract): the
    * micro-batch's checkpoint blocks are released when the trigger
    * ends, so a deferred evaluation would find them gone. */
  def ingestVectorStream(s: SparkSession, table: String, vecStream: DataFrame,
      onResults: (DataFrame, Long) => Unit,
      k: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // localCheckpoint: FOUR consumers (the routing collect, the probe
      // broadcast, the exclusion anti-join, the append) must see ONE
      // evaluation of the micro-batch — the ingestExactStream discipline
      val b = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
      try {
        onResults(batchTopK(s, table, b, k), batchId)
        appendVectorIndex(s, table, b)
      } finally graft.util.SessionCache.releaseFrame(b)
    }

  /** LIST-LOCAL compaction for a [[writeVectorIndex]] table: every
    * [[appendVectorIndex]] adds a file per touched cell, and at ingest
    * cadence the per-list file count (open/footer cost, one scan task
    * per tiny file) grows linearly with batch count. Each inverted list
    * is a plain parquet directory, so compaction is [[graft.sources
    * .Sink.compact]] applied per cell dir — the rewrite shuffle stays
    * INSIDE one list and lists never move relative to each other, which
    * is the only acceptable shape at 100 TB: lists compact
    * independently, incrementally, and in parallel across maintenance
    * windows (cell dirs below `minFiles` are skipped, so steady-state
    * re-runs are free). Partition directories are preserved in place —
    * pruning is untouched — and each list inherits Sink.compact's
    * rename-ladder crash contract ([[graft.sources.Sink.recoverSwap]]
    * per directory). Returns (filesBefore, filesAfter) summed over all
    * lists. */
  def compactVectorIndex(s: SparkSession, table: String,
      minFiles: Int = 2, targetBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.partitionColumnNames == Seq("cell"),
      s"$table is not a vector index table (partitions: ${meta.partitionColumnNames})")
    val root = new Path(meta.location)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // FIRST repair any list whose previous compaction died mid-swap
    // (data parked in `.cell=N.compact.bak`, original dir missing):
    // without this, a crashed compact would silently drop the whole
    // list from every future query — the partition simply stops
    // existing — and the `cell=` filter below would never revisit it.
    // Both maintenance entry points (here and appendVectorIndex) double
    // as the recovery entry point, the Sink.mergeInto discipline.
    recoverLists(s, root)
    var before = 0
    var after = 0
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { d =>
        val files = fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files >= minFiles) {
          val (b, a) = graft.sources.Sink.compact(s, d.getPath.toString, targetBytes)
          before += b; after += a
        } else { before += files; after += files }
      }
    s.catalog.refreshTable(table)
    (before, after)
  }

  /** The index table is a per-session table artifact like d18's
    * ([[graft.util.Artifacts.table]]): built once per version of
    * `embeddings`, DROPped at release points. */
  private[graft] def s15IndexTable(s: SparkSession, dir: String): String =
    graft.util.Artifacts.table(s, "s15_vec_index", Seq(dir -> "embeddings"))(
      writeVectorIndex(Tables.embeddings(s, dir), _))

  /** s15 — s02's bucketed ANN served from the PERSISTENT inverted-list
    * index: identical rows (same cell function, same ranking — s02's
    * oracle hash-checks the index path pair-for-pair), but the corpus
    * side is a cross-run partitioned table and the probed cells arrive
    * as partition filters. SimilaritySpec proves the pruning: a probe
    * set confined to one cell scans exactly one list's files. */
  private def s15AnnIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Tables.embeddings(s, dir).filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        bucket($"embedding").as("cell"))
    indexedTopK(s, s15IndexTable(s, dir), probes, 3,
        distinctCandidates = false) // build-once index: no duplicates possible
      .orderBy($"qid", $"rank")
  }

  /** s16 — multi-probe against the same index (s05's probe expansion:
    * own cell + the 4 cells at hamming distance 1). The recall/latency
    * knob composes with the layout: 5× the candidate volume is still a
    * pruned scan — probed lists only — and s05's oracle hash-checks the
    * result. At 100 TB this is the operating point: multi-probe recovers
    * the recall a partitioned layout gives up, for bytes proportional to
    * the probed fraction. */
  private def s16AnnIndexedMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probeArr = array((0 to 4).map {
      case 0 => bucket($"embedding")
      case b => bucket($"embedding").bitwiseXOR(lit(1 << (b - 1)))
    }: _*)
    val probes = Tables.embeddings(s, dir).filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        explode(probeArr).as("cell"))
    indexedTopK(s, s15IndexTable(s, dir), probes, 3,
        distinctCandidates = false) // build-once index: no duplicates possible
      .orderBy($"qid", $"rank")
  }

  private[graft] def s17IndexTable(s: SparkSession, dir: String): String =
    graft.util.Artifacts.table(s, "s17_ivf_index", Seq(dir -> "embeddings"))(
      writeAssignedIndex(ivfAssigned(s, dir), _))

  /** The s04 retrieval served from the persistent learned-quantizer
    * index: probes carry their own rk=1 k-means cell, the corpus side is
    * the [[s17IndexTable]] partitioned table. Same candidates as s04 by
    * construction (both meet on the rk=1 assignment), which the spec
    * pins row-for-row. */
  private[graft] def ivfIndexedTop3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = ivfAssigned(s, dir).filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cell")
    indexedTopK(s, s17IndexTable(s, dir), probes, 3,
      distinctCandidates = false) // build-once index: no duplicates possible
  }

  /** s17 — the LEARNED coarse quantizer composed with the PERSISTENT
    * inverted-list layout: s04's k-means cells become the partition
    * directories (the full FAISS-IVF production shape — trained
    * quantizer, on-disk lists, probed-cell routing as partition
    * pruning), where s15's lists came from the deterministic sign-LSH.
    * KMeans isn't SQL-expressible, so like s06 the DRIVER-CHECKED
    * contract is the measured recall gate over the indexed retrieval —
    * same ground truth, same 0.45 floor (the result is s04's rows, spec-
    * pinned, so the gate measures the same index quality s06 does, now
    * THROUGH the persistent layout). */
  private def s17AnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recallGate(s, dir, ivfIndexedTop3(s, dir).select($"qid", $"nid"), 0.45)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_knn_brute"  -> s01KnnBrute _,
    "s02_ann_bucket" -> s02AnnBucket _,
    "s03_knn_expr"   -> s03KnnExpr _,
    "s04_ann_ivf"    -> s04AnnIvf _,
    "s05_ann_multiprobe" -> s05AnnMultiprobe _,
    "s06_ann_ivf_recall" -> s06AnnIvfRecall _,
    "s07_knn_int8"       -> s07KnnInt8 _,
    "s08_ann_pq"         -> s08AnnPq _,
    "s09_ann_pq_recall"  -> s09AnnPqRecall _,
    "s10_ann_ivfpq"      -> s10AnnIvfPq _,
    "s11_ann_ivfpq_recall" -> s11AnnIvfPqRecall _,
    "s12_knn_filtered"   -> s12KnnFiltered _,
    "s13_knn_hamming"    -> s13KnnHamming _,
    "s14_hamming_rerank" -> s14HammingRerank _,
    "s15_ann_indexed"    -> s15AnnIndexed _,
    "s16_ann_indexed_multiprobe" -> s16AnnIndexedMultiprobe _,
    "s17_ann_ivf_indexed" -> s17AnnIvfIndexed _,
  )

  /** s04's raw output is omitted (KMeans has no SQL oracle; rows-only
    * check) — s06 is its driver-checked quality gate. */
  val oracleSql: Map[String, String] = Map(
    "s01_knn_brute"  -> s01Sql,
    "s02_ann_bucket" -> s02Sql,
    "s03_knn_expr"   -> s03Sql,
    "s05_ann_multiprobe" -> s05Sql,
    "s06_ann_ivf_recall" -> s06Sql,
    "s07_knn_int8"       -> s07Sql,
    "s09_ann_pq_recall"  -> s09Sql,
    "s11_ann_ivfpq_recall" -> s11Sql,
    "s12_knn_filtered"   -> s12Sql,
    "s13_knn_hamming"    -> s13Sql,
    "s14_hamming_rerank" -> s14Sql,
    // the index paths reuse the in-query variants' oracles verbatim:
    // same cell function, same ranking — layout must not change rows
    "s15_ann_indexed"    -> s02Sql,
    "s16_ann_indexed_multiprobe" -> s05Sql,
    "s17_ann_ivf_indexed" -> s06Sql, // the same driver-checked gate contract
  )
}
