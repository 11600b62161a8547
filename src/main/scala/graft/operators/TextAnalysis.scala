package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface beyond the reference's relational core (the reference has
  * no string functions beyond LIKE/SUBSTR, SURVEY.md §2.3; these are
  * green-field Spark work).
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order array functions — no UDFs — so the whole pipeline stays
  * inside whole-stage codegen and scales linearly with document count: each
  * op is a narrow map over the scan (no shuffle at all except final sort).
  * At 100 TB these run as a single scan stage; the ORDER BY tails exist only
  * for oracle determinism and would be dropped in production.
  */
object TextAnalysis {

  /** Whitespace tokens of `text`. */
  def words(text: Column): Column = split(text, " ")

  /** English stopword list shared by quality scoring and language-ID. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Count of words that are stopwords (frequency-weighted). */
  def stopwordHits(w: Column): Column =
    size(filter(w, x => x.isInCollection(stopwords)))

  /** The t02 quality score in [0,1] — length knee at 50 words + natural
    * stopword density, weighted evenly. ONE definition shared by every
    * entry that ranks or weighs by quality (t02, t14, t15); its DuckDB
    * spelling is [[qualityScoreSql]] and the two must change together. */
  private[graft] def qualityScore: Column = {
    val w = words(col("text"))
    val nWords = size(w)
    val stopRatio = stopwordHits(w).cast("double") / nWords
    least(nWords.cast("double") / lit(50.0), lit(1.0)) * lit(0.5) +
      least(stopRatio * lit(10.0), lit(1.0)) * lit(0.5)
  }

  /** [[qualityScore]]'s oracle-side spelling (DuckDB, over `text`). */
  private[graft] def qualityScoreSql: String = {
    val stops = stopwords.map(x => s"'$x'").mkString(", ")
    s"""least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5
       |    + least(len(list_filter(string_split(text, ' '), x -> x IN ($stops)))::DOUBLE
       |        / len(string_split(text, ' ')) * 10.0, 1.0) * 0.5""".stripMargin
  }

  /** t01 — token counting: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation, the pre-tokenizer split
    * most BPE vocabularies assume). */
  private def t01TokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        size(words($"text")).as("n_ws_tokens"),
        size(regexp_extract_all($"text",
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("n_re_tokens"),
        length($"text").as("n_chars_actual"))
      .orderBy($"doc_id")
  }

  private val t01Sql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_re_tokens,
      |  length(text) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t02 — quality scoring: length, mean word length, stopword ratio, and a
    * combined score — the standard cheap pre-filters of a web-scale corpus
    * cleaning pipeline. */
  private def t02Quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = words(col("text"))
    val nWords = size(w)
    val sumLen = aggregate(transform(w, x => length(x)), lit(0), (acc, x) => acc + x)
    val stopRatio = stopwordHits(w).cast("double") / nWords
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        length($"text").as("n_chars_actual"),
        nWords.as("n_words"),
        (sumLen.cast("double") / nWords).as("avg_word_len"),
        stopRatio.as("stopword_ratio"),
        qualityScore.as("quality_score"))
      .orderBy($"doc_id")
  }

  private val t02Sql = {
    val stops = stopwords.map(x => s"'$x'").mkString(", ")
    s"""SELECT doc_id,
       |  length(text) AS n_chars_actual,
       |  len(string_split(text, ' ')) AS n_words,
       |  list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
       |    / len(string_split(text, ' ')) AS avg_word_len,
       |  len(list_filter(string_split(text, ' '), x -> x IN ($stops)))::DOUBLE
       |    / len(string_split(text, ' ')) AS stopword_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Character trigrams whose frequency anchors the language-ID heuristic. */
  val enTrigrams: Seq[String] = Seq("the", "ing", "and", "ion", "ent")

  /** Occurrences of `pat` in `text`, by the replace-and-measure identity
    * (portable to any SQL dialect: no engine-specific count function). */
  def occurrences(text: Column, pat: String): Column =
    (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), ""))) / lit(pat.length)

  /** t03 — language ID: character-n-gram + stopword heuristic. Emits the
    * English-evidence scores and a threshold decision; scoring against one
    * profile per language is the same single scan with more columns. */
  private def t03LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = words(col("text"))
    val triScore = enTrigrams.map(t => occurrences(col("text"), t))
      .reduce(_ + _).cast("double") / length(col("text"))
    val stopScore = stopwordHits(w).cast("double") / size(w)
    Tables.documents(s, dir)
      .select(
        $"doc_id", $"lang",
        triScore.as("trigram_score"),
        stopScore.as("stopword_score"),
        when(triScore + stopScore > 0.05, "en").otherwise("und").as("pred_lang"))
      .orderBy($"doc_id")
  }

  private val t03Sql = {
    val stops = stopwords.map(x => s"'$x'").mkString(", ")
    val tri = enTrigrams
      .map(t => s"(length(text) - length(replace(text, '$t', ''))) / ${t.length}")
      .mkString(" + ")
    s"""SELECT doc_id, lang,
       |  ($tri)::DOUBLE / length(text) AS trigram_score,
       |  len(list_filter(string_split(text, ' '), x -> x IN ($stops)))::DOUBLE
       |    / len(string_split(text, ' ')) AS stopword_score,
       |  CASE WHEN ($tri)::DOUBLE / length(text)
       |         + len(list_filter(string_split(text, ' '), x -> x IN ($stops)))::DOUBLE
       |           / len(string_split(text, ' ')) > 0.05
       |       THEN 'en' ELSE 'und' END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Distinct word-k-gram shingles, via the native WordShingles expression
    * (one fused loop; the composable
    * `array_distinct(transform(sequence(...), ...))` formulation is
    * semantically identical but runs interpreted — see WordShingles). */
  def shingles(w: Column, k: Int): Column =
    graft.functions.WordShingles.column(w, k)

  /** t04 — document fingerprinting: a whole-document content hash over
    * whitespace-normalized text, plus a winnowing-style rolling fingerprint
    * (min hash over the 4-gram shingle window — robust to local edits). */
  private def t04Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Bind each intermediate as a real column: interpreted lambda bodies
    // re-evaluate captured subexpression trees per element, so shingling
    // directly over the regexp_replace expression would re-run the regex
    // O(words) times per row. The winnowing min is MinHashSignature's
    // stream 0 (min over shingles of the plain md5 hex) — a shuffle-free
    // narrow map, replacing the equivalent explode + map-side-combined min.
    Tables.documents(s, dir)
      .withColumn("norm", regexp_replace(lower($"text"), "\\s+", " "))
      .withColumn("w", words($"norm"))
      .withColumn("sh", shingles($"w", 4))
      .select($"doc_id", md5($"norm").as("content_fp"),
        element_at(graft.functions.MinHashSignature.column($"sh", 1), 1)
          .as("winnow_fp"))
      .orderBy($"doc_id")
  }

  private val t04Sql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_fp,
      |  list_aggregate(list_transform(
      |    list_distinct(list_transform(
      |      generate_series(1, len(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) - 3),
      |      i -> array_to_string(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')[i:i+3], ' '))),
      |    x -> md5(x)), 'min') AS winnow_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t05 — repetition/boilerplate scoring: word-frequency concentration
    * (top-word share, distinct-word ratio) — the cheap signal that flags
    * templated or degenerate documents in a web corpus. One explode + one
    * two-level aggregation, both map-side combined. */
  private def t05Boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(words($"text")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("f"))
      .groupBy($"doc_id")
      .agg(
        sum($"f").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max($"f").as("top_word_freq"),
        (max($"f").cast("double") / sum($"f")).as("repetition_ratio"),
        (count(lit(1)).cast("double") / sum($"f")).as("distinct_ratio"))
      .orderBy($"doc_id")
  }

  private val t05Sql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT doc_id, word, count(*) AS f FROM w GROUP BY 1, 2)
      |SELECT doc_id, sum(f)::BIGINT AS n_words, count(*) AS n_distinct_words,
      |  max(f) AS top_word_freq,
      |  max(f)::DOUBLE / sum(f) AS repetition_ratio,
      |  count(*)::DOUBLE / sum(f) AS distinct_ratio
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t06 — deterministic hash split: train/holdout assignment by salted
    * md5 of the stable document key (~90/10 at byte threshold 230/256).
    * No RNG and no sampling operator, so the split is bit-reproducible
    * across engines, runs, partitionings, and cluster sizes — how
    * production pipelines pin an eval set. A narrow map; the tiny
    * aggregate here just makes the assignment oracle-checkable. */
  /** The deterministic split assignment shared by t06 and d10 (one
    * definition per engine — salt and threshold must never diverge
    * between the operators that claim to implement "the" split):
    * first byte of md5('split:' || doc_id) under 230/256 → 'train'. */
  def splitAssign(docId: Column): Column = {
    val bucket = conv(
      substring(md5(concat(lit("split:"), docId.cast("string"))), 1, 2),
      16, 10).cast("long")
    when(bucket < 230, "train").otherwise("holdout")
  }

  /** DuckDB twin (no conv(); strpos arithmetic like the simhash oracle). */
  def duckSplitAssignOn(idCol: String): String = {
    val h = s"md5('split:' || $idCol::VARCHAR)"
    val b = s"((strpos('0123456789abcdef', substr($h, 1, 1)) - 1) * 16" +
      s" + strpos('0123456789abcdef', substr($h, 2, 1)) - 1)"
    s"CASE WHEN $b < 230 THEN 'train' ELSE 'holdout' END"
  }
  val duckSplitAssign: String = duckSplitAssignOn("doc_id")

  private def t06HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("split", splitAssign($"doc_id"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), avg(length($"text")).as("avg_len"))
      .orderBy($"split")
  }

  private val t06Sql =
    s"""SELECT $duckSplitAssign AS split,
       |  count(*) AS n_docs, avg(length(text)) AS avg_len
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** t07 — TF-IDF top terms: term frequency per doc × inverse document
    * frequency, top 3 terms per doc. The Spark-shaped version of the
    * classic relevance score: one explode, a per-(doc, word) count, a
    * per-word document-frequency aggregate joined back on the word key
    * (a shuffle join — at web scale the vocabulary outgrows broadcast),
    * and a per-doc window top-K. ln() is IEEE-identical across engines;
    * the driver's float tolerance covers the multiply.
    *
    * Float-rank determinism, verified against the data: exact score ties
    * DO occur at the rank-3 boundary, but every such tie shares the same
    * (tf, df) pair at all SFs — both engines then compute bit-identical
    * doubles and the total `word` tiebreak resolves them identically. A
    * tie between different (tf, df) combos (where 1-ulp engine skew could
    * flip ranks) occurs zero times at sf0.001/0.01/0.1. */
  private def t07Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // corpus size as a 1-row aggregate broadcast into the plan (NOT a
    // driver-side docs.count(): that is metadata-cheap on parquet but a
    // full extra scan on any other source) — same shape as the oracle's
    // CROSS JOIN n and q37's sketch join-back
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // hash-cluster by doc_id instead of round-robin spreading (guide
    // §2.4; r17): HashPartitioning(doc_id) satisfies the (doc_id, word)
    // term-frequency aggregation (subset rule) AND — because the df join
    // below is a broadcast — survives to the per-doc top-3 window, so
    // neither re-shuffles. The round-robin form paid a full (doc_id,
    // word) exchange of every exploded term plus a second exchange to
    // re-cluster for the window (measured 1.28 → 0.77 s at sf0.1).
    val tf = docs.repartition($"doc_id")
      .select($"doc_id", explode(words($"text")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    // document frequency is vocabulary-sized (one row per distinct word
    // ≪ one row per posting): broadcast it so tf keeps its clustering.
    // Vocabulary bound (r18, r17 ADVICE — a broadcast hint bypasses
    // autoBroadcastJoinThreshold): Heaps' law puts distinct words at
    // K·nᵝ, β≈0.5 — ~1e8 rows (a few GB framed) for a 100 TB corpus,
    // inside the 8 GB broadcast cap but enough executor pressure that a
    // deployment may prefer the shuffle join; the hint is therefore
    // conf-gated (spark.graft.tfidf.broadcastVocab, default on; only
    // `false` turns it off — graft.util.Conf.isOn). With
    // the gate off the join falls back to the planner's choice and tf
    // re-shuffles for the window — slower, never wrong.
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val dfSide =
      if (s.conf.getOption("spark.graft.tfidf.broadcastVocab")
            .forall(graft.util.Conf.isOn)) broadcast(df)
      else df
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")
    tf.join(dfSide, "word")
      .crossJoin(broadcast(n))
      .withColumn("score", $"tf" * log($"n_docs" / $"df"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"word", $"score")
      .orderBy($"doc_id", $"rank")
  }

  private val t07Sql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
      |s AS (SELECT tf.doc_id, tf.word, tf.tf * ln(n.n_docs / df.df) AS score
      |      FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT doc_id, rank, word, score FROM (
      |  SELECT doc_id, word, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
      |  FROM s) r
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** t08 — Gopher-style repetition signals: top-bigram share (what
    * fraction of all word bigrams the single most frequent one claims),
    * duplicate-trigram fraction (1 − distinct/total 3-grams), and a
    * composite keep flag — the published heuristics for catching
    * templated/looping generations in a pretraining corpus (the corpus has
    * no line structure, so the n-gram family stands in for the line-dup
    * family). Two shapes fused: the bigram share needs multiplicities, so
    * it goes explode → two-level map-side-combined agg (t05's shape); the
    * trigram fraction is pure per-row arithmetic over the native shingle
    * expression (distinct count vs position count), a narrow map joined
    * back on doc_id. */
  private def t08Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // hash-cluster by doc_id instead of round-robin spreading (guide
    // §2.4; r17): the bigram (doc_id, bg) aggregation, its per-doc
    // rollup, AND the perDoc⋈bigram join all cluster on doc_id, so one
    // up-front exchange serves every keyed step (the round-robin form
    // re-shuffled the exploded bigrams twice; measured 1.15 → 0.80 s)
    val docs = Tables.documents(s, dir).repartition($"doc_id")
      .withColumn("w", words($"text"))
    val perDoc = docs.select(
      $"doc_id",
      size($"w").as("n_words"),
      (lit(1.0) - size(shingles($"w", 3)).cast("double")
        / greatest(size($"w") - 2, lit(1))).as("dup_trigram_frac"))
    val bigram = docs
      .select($"doc_id",
        explode(graft.functions.WordShingles.columnAll($"w", 2)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("f"))
      .groupBy($"doc_id")
      .agg((max($"f").cast("double") / sum($"f")).as("top_bigram_share"))
    perDoc.join(bigram, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words", $"top_bigram_share", $"dup_trigram_frac",
        ($"n_words" >= 20 && coalesce($"top_bigram_share", lit(0.0)) <= 0.1
          && $"dup_trigram_frac" <= 0.05).as("gopher_ok"))
      .orderBy($"doc_id")
  }

  private val t08Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, len(w) - 1),
      |         i -> array_to_string(w[i:i+1], ' '))) AS bg FROM w),
      |c AS (SELECT doc_id, bg, count(*) AS f FROM bg GROUP BY 1, 2),
      |tb AS (SELECT doc_id, max(f)::DOUBLE / sum(f) AS top_bigram_share
      |       FROM c GROUP BY 1),
      |pd AS (SELECT doc_id, len(w) AS n_words,
      |         1.0 - len(list_distinct(list_transform(
      |             generate_series(1, len(w) - 2),
      |             i -> array_to_string(w[i:i+2], ' '))))::DOUBLE
      |           / greatest(len(w) - 2, 1) AS dup_trigram_frac
      |       FROM w)
      |SELECT pd.doc_id, pd.n_words, tb.top_bigram_share, pd.dup_trigram_frac,
      |  (pd.n_words >= 20 AND coalesce(tb.top_bigram_share, 0.0) <= 0.1
      |   AND pd.dup_trigram_frac <= 0.05) AS gopher_ok
      |FROM pd LEFT JOIN tb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Token budget per packed training sequence (t09). */
  val PackBudget = 2048

  /** t09 — sequence packing: assign documents to fixed-token-budget
    * training sequences, deterministically. Docs are sharded by
    * `doc_id % 8` (in production: by ingest partition), ordered within the
    * shard, and cut into packs wherever the running token total crosses
    * the budget — `pack = (cumsum_before_this_doc) div budget`. The window
    * is partitioned by shard, so packing parallelizes across shards (no
    * global sort) and adding shards scales it to any corpus size; the
    * output is the pack manifest a sequence-building job would consume.
    * No RNG: the same corpus packs identically on any cluster shape. */
  private def t09SequencePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select($"doc_id", ($"doc_id" % 8).as("shard"),
        size(words($"text")).as("tokens"))
      .withColumn("cum", sum($"tokens").over(w))
      .withColumn("pack", (($"cum" - $"tokens") / PackBudget).cast("long"))
      .groupBy($"shard", $"pack")
      .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("pack_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"shard", $"pack")
  }

  private val t09Sql =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
       |             len(string_split(text, ' ')) AS tokens FROM documents),
       |c AS (SELECT doc_id, shard, tokens,
       |        sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
       |SELECT shard, ((cum - tokens) // $PackBudget)::BIGINT AS pack,
       |  count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY shard, pack""".stripMargin

  /** t10 — benchmark decontamination score: for every corpus document,
    * the fraction of its distinct word-3-gram shingles that appear in a
    * held-out benchmark set (docs with doc_id % 97 == 0 stand in for an
    * eval suite; a real deployment reads the suite from its own table).
    * Documents above a threshold get quarantined before training —
    * emitting the full score spectrum keeps the gate's input auditable.
    *
    * Scale shape: the benchmark shingle set is tiny relative to the
    * corpus, so it is broadcast and scoring is a map-side left join +
    * per-doc aggregate — the corpus is scanned once and shuffled only by
    * doc_id for the count, never by shingle. */
  private def t10Contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // WordShingles emits distinct shingles per doc, so the exploded
    // (doc_id, sh) pairs are already unique — no distinct() needed
    val sh = Dedup.withSh3(Tables.documents(s, dir))
      .select($"doc_id", explode($"sh").as("sh"))
    val bench = sh.filter($"doc_id" % 97 === 0).select($"sh".as("bsh")).distinct()
    sh.filter($"doc_id" % 97 =!= 0)
      .join(broadcast(bench), $"sh" === $"bsh", "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sh"), count($"bsh").as("n_hit"))
      .withColumn("contamination", $"n_hit".cast("double") / $"n_sh")
      .orderBy($"doc_id")
  }

  private val t10Sql =
    s"""WITH dd AS (SELECT doc_id, unnest(${Dedup.duckShingles(3)}) AS sh FROM documents),
       |bench AS (SELECT DISTINCT sh FROM dd WHERE doc_id % 97 = 0)
       |SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit,
       |  count(b.sh)::DOUBLE / count(*) AS contamination
       |FROM dd d LEFT JOIN bench b USING (sh)
       |WHERE d.doc_id % 97 <> 0
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** t11 — pattern scrubbing, the PII-redaction shape: mask every digit
    * run in the event payload and count the masked characters. The
    * testdata carries no real PII, so the digit pattern stands in for the
    * production email/phone/ID regex bank — swapping patterns leaves the
    * plan unchanged: a narrow, codegen'd regexp map over the scan (no
    * shuffle, no UDF), which is exactly what lets it run at ingest rate
    * on a 100 TB corpus. */
  private def t11Redact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        regexp_replace($"props", "[0-9]+", "#").as("redacted"),
        (length($"props") - length(regexp_replace($"props", "[0-9]+", "")))
          .cast("long").as("n_masked_chars"))
      .orderBy($"event_id")
  }

  /** DuckDB replaces only the first match unless the 'g' flag is given —
    * Spark's regexp_replace is always global. */
  private val t11Sql =
    """SELECT event_id,
      |  regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
      |  (length(props) - length(regexp_replace(props, '[0-9]+', '', 'g')))::BIGINT
      |    AS n_masked_chars
      |FROM events ORDER BY event_id""".stripMargin

  /** t12 — statistical LM quality score: a bigram language model with
    * add-one smoothing is trained ON the corpus itself, then every
    * document is scored by its mean log-probability under that model —
    * the CCNet/RefinedWeb-style "perplexity filter" that separates
    * natural-looking text from gibberish and boilerplate, self-contained
    * (no external model artifact).
    *
    * Scale shape: two corpus passes. Pass 1 builds the model — ONE
    * map-side-combined bigram-count aggregation; prefix-unigram counts
    * and the 1-row vocab size derive from the already-reduced model
    * table, never re-reading the corpus. The finished model is an
    * ARTIFACT (the IVF/PQ-index discipline): localCheckpointed once per
    * version of `documents`, released at the family boundary — a production
    * pipeline persists the trained LM and scores many batches against
    * it, and rebuilding it per scoring run was exactly the cost the
    * bench's [4.8, 15.9, 9.6] s run spread recorded. The checkpoint also
    * gives the planner the model's TRUE size (a multi-join subplan's
    * stats are opaque), so the scoring join auto-broadcasts a small
    * model and falls back to a shuffle join on the bigram key when the
    * model outgrows the threshold (t07's vocabulary-join shape) — the
    * size-adaptive choice a 100 TB corpus needs. Pass 2 scores: exploded
    * corpus bigrams join the model, then one per-doc aggregate. Nothing
    * is driver-side.
    *
    * The interpreted `transform` lambda is bounded per row (bigrams of a
    * pre-split, pre-bound array — no captured regex re-evaluation; see
    * the t04 note), and multiplicity is REQUIRED (an LM counts
    * occurrences, not WordShingles' distinct shingle sets). */

  /** Corpus bigram occurrences (doc_id, bg), with multiplicity. */
  private def corpusBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread by hand: SpreadScans would place this exchange for the model
    // build, but refuses t12's scoring by (b), its double avg of logp; r20 t12
    // 0.72 s with the call, 0.78 s without (first run, with the model build:
    // 2.36 s with, 2.36 s without)
    Tables.spread(Tables.documents(s, dir))
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("bg"))
  }

  /** The trained model table (mbg, logp) — add-one-smoothed bigram
    * log-probabilities, one row per distinct corpus bigram, trained once
    * per version of `documents` ([[graft.util.Artifacts]]). */
  private def lmModel(s: SparkSession, dir: String): DataFrame =
    graft.util.Artifacts.getOrBuild(s, "lm", Seq(dir -> "documents")) {
      import s.implicits._
      val bgCounts = corpusBigrams(s, dir).groupBy($"bg").agg(count(lit(1)).as("c12"))
      val w1Counts = bgCounts
        .groupBy(substring_index($"bg", " ", 1).as("w1")).agg(sum($"c12").as("c1"))
      val vocab = bgCounts
        .select(explode(split($"bg", " ")).as("w"))
        .agg(countDistinct($"w").as("v"))
      bgCounts
        .join(w1Counts, substring_index(bgCounts("bg"), " ", 1) === w1Counts("w1"))
        // vocab is a 1-row aggregate; the explicit hint pins the broadcast
        // in the plan instead of trusting AQE to discover the cardinality
        .crossJoin(broadcast(vocab))
        .select($"bg".as("mbg"),
          log(($"c12" + lit(1.0)) / ($"c1" + $"v")).as("logp"))
        .localCheckpoint()
    }

  private def t12LmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpusBigrams(s, dir).join(lmModel(s, dir), $"bg" === $"mbg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg($"logp").as("avg_logp"))
      .orderBy($"doc_id")
  }

  private val t12Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |i AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws FROM w),
      |b AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg FROM i),
      |bc AS (SELECT bg, count(*) AS c12 FROM b GROUP BY 1),
      |uc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM b GROUP BY 1),
      |v AS (SELECT count(DISTINCT x.w) AS v
      |      FROM (SELECT unnest(string_split(bg, ' ')) AS w FROM b) x),
      |m AS (SELECT bc.bg, ln((c12 + 1.0) / (c1 + v.v)) AS logp
      |      FROM bc JOIN uc ON split_part(bc.bg, ' ', 1) = uc.w1, v)
      |SELECT doc_id, count(*) AS n_bigrams, avg(logp) AS avg_logp
      |FROM b JOIN m ON b.bg = m.bg
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t13 — weighted dataset mixing: replicate each source's documents by
    * its epoch weight (here derived deterministically from the source id;
    * in production a curated weights table) — the upsampling half of
    * dataset mixing, where high-quality sources see N epochs per training
    * pass. `explode(sequence(1, w))` is a narrow map whose output factor
    * is exactly the mix ratio — no shuffle, no RNG, bit-reproducible on
    * any cluster shape; the (doc, epoch) stream feeds t09-style packing
    * downstream. The oracle checks the replication arithmetic per source
    * (count × weight) against the engine's ACTUAL post-explode counts. */
  private def t13Mixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("weight",
        (regexp_extract($"source", "src([0-9]+)", 1).cast("int") % 3 + 1).cast("long"))
      .withColumn("epoch", explode(sequence(lit(1L), $"weight")))
      .groupBy($"source", $"weight")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_mixed"))
      .select($"source", $"n_docs", $"weight", $"n_mixed")
      .orderBy($"source")
  }

  private val t13Sql =
    """SELECT source, count(*) AS n_docs,
      |  (regexp_extract(source, 'src([0-9]+)', 1)::INT % 3 + 1)::BIGINT AS weight,
      |  (count(*) * (regexp_extract(source, 'src([0-9]+)', 1)::INT % 3 + 1))::BIGINT
      |    AS n_mixed
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** t14 — quality-WEIGHTED sampling: each document is kept with
    * probability equal to its t02 quality score, decided by comparing the
    * score against a hash-derived uniform (first 4 md5 hex chars of the
    * salted doc key over 65536) — t06's deterministic-split idea extended
    * from a fixed rate to a PER-ROW rate. This is how a pipeline
    * downsamples low-quality text without an RNG: bit-reproducible across
    * engines, runs, and partitionings, trivially parallel (a narrow map),
    * and auditable (the oracle re-derives every keep decision — one
    * boundary flip breaks n_kept's hash). kept_avg_quality > avg_quality
    * by construction: the selection effect is the visible output. */
  private def t14WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = qualityScore
    val bucket = conv(
      substring(md5(concat(lit("wsample:"), $"doc_id".cast("string"))), 1, 4),
      16, 10).cast("long")
    Tables.documents(s, dir)
      .withColumn("q", q)
      .withColumn("keep", bucket.cast("double") < $"q" * 65536.0)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        avg($"q").as("avg_quality"),
        avg(when($"keep", $"q")).as("kept_avg_quality"))
      .orderBy($"source")
  }

  private val t14Sql = {
    val h = "md5('wsample:' || doc_id::VARCHAR)"
    def hex(i: Int) = s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)"
    val bucket = s"(((${hex(1)} * 16 + ${hex(2)}) * 16 + ${hex(3)}) * 16 + ${hex(4)})"
    s"""WITH scored AS (
       |  SELECT source,
       |    $qualityScoreSql AS q,
       |    $bucket::DOUBLE < ($qualityScoreSql) * 65536.0 AS keep
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  avg(q) AS avg_quality,
       |  avg(CASE WHEN keep THEN q END) AS kept_avg_quality
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  /** t15 — per-source document cap: keep at most `SourceCap` documents
    * per source, ranked by t02 quality (doc_id as the deterministic
    * tiebreak — quality plateaus at the score's 1.0 cap, so ties are the
    * common case, and an undefined survivor would break replay
    * idempotence). The per-domain cap is how web-scale corpora stop one
    * crawl-happy domain from dominating the mixture (CommonCrawl
    * pipelines cap per-registered-domain for exactly this reason);
    * t13's mixture weights rebalance what survives, t14's weighted
    * sample thins globally — this bounds each source absolutely.
    *
    * Scale shape: `rank <= k` over a partitioned window triggers
    * Spark's WindowGroupLimit pushdown (spec-asserted) — each shuffle
    * partition keeps a k-row heap per source BEFORE the full sort, so
    * the shuffle carries at most k rows per (source, partition), never a
    * source's whole document set. The skewed-domain case (one source =
    * half the corpus) is exactly where the pushdown earns its keep. */
  private def t15SourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = qualityScore
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"q".desc, $"doc_id".asc)
    Tables.documents(s, dir)
      .withColumn("q", q)
      .withColumn("rnk", row_number().over(byQuality))
      .filter($"rnk" <= SourceCap)
      .select($"source", $"doc_id", $"q".as("quality_score"), $"rnk")
      .orderBy($"source", $"rnk")
  }

  private[graft] val SourceCap = 10

  private val t15Sql = {
    s"""WITH scored AS (
       |  SELECT source, doc_id,
       |    $qualityScoreSql AS q
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, q AS quality_score,
       |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT source, doc_id, quality_score, rnk
       |FROM ranked WHERE rnk <= $SourceCap
       |ORDER BY source, rnk""".stripMargin
  }

  /** t16 — Gopher-style repetition-free quality RULE GATE (Rae et al.
    * 2021, §A1.1 "quality filtering" — the published rule battery later
    * reused by MassiveText/RefinedWeb derivatives): hard per-document
    * bounds rather than t02's soft score. Rules here (the subset whose
    * signals exist in a single-line corpus): word count in [50, 100000],
    * mean word length in [3, 10], symbol-to-word ratio ('#' and ASCII
    * '...' occurrences; the Unicode ellipsis '…' is deliberately out —
    * the corpus is ASCII and the oracle counts the same two tokens)
    * ≤ 0.1, ≥ 80 % of words contain an alphabetic character, ≥ 2 distinct
    * stopwords present (the "real sentence structure" proxy). Output =
    * the measured signals + per-rule verdicts + the conjunction — a
    * downstream filter keys on `pass`, an auditor reads WHICH rule
    * killed a document (per-rule accounting is the operational
    * requirement; a bare boolean can't be debugged at corpus scale).
    * One narrow scan, no shuffle but the oracle-determinism sort. */
  /** The rule battery over any (doc_id, text) frame — exposed so the
    * spec can flip each rule independently on crafted documents. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val meanLen = aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x)
      .cast("double") / nWords
    val symbols = occurrences(col("text"), "#") + occurrences(col("text"), "...")
    val symbolRatio = symbols.cast("double") / nWords
    val alphaRatio = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("double") / nWords
    val nStopDistinct = size(array_intersect(array_distinct(w),
      array(stopwords.map(lit): _*)))
    val okWords = nWords >= 50 && nWords <= 100000
    val okLen = meanLen >= 3.0 && meanLen <= 10.0
    val okSym = symbolRatio <= 0.1
    val okAlpha = alphaRatio >= 0.8
    val okStop = nStopDistinct >= 2
    docs
      .select(col("doc_id"),
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaRatio.as("alpha_word_ratio"),
        nStopDistinct.as("n_stop_distinct"),
        okWords.as("ok_words"), okLen.as("ok_len"), okSym.as("ok_sym"),
        okAlpha.as("ok_alpha"), okStop.as("ok_stop"),
        (okWords && okLen && okSym && okAlpha && okStop).as("pass"))
  }

  private def t16GopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(s, dir)).orderBy(col("doc_id"))

  private val t16Sql = {
    val stops = stopwords.map(x => s"'$x'").mkString(", ")
    // the replace-and-measure occurrence identity, as [[occurrences]]
    val sym = "((length(text) - length(replace(text, '#', ''))) / 1" +
      " + (length(text) - length(replace(text, '...', ''))) / 3)"
    s"""WITH m AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
       |      / len(string_split(text, ' ')) AS mean_word_len,
       |    $sym::DOUBLE / len(string_split(text, ' ')) AS symbol_ratio,
       |    len(list_filter(string_split(text, ' '),
       |        x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
       |      / len(string_split(text, ' ')) AS alpha_word_ratio,
       |    len(list_intersect(list_distinct(string_split(text, ' ')),
       |        [$stops])) AS n_stop_distinct
       |  FROM documents)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
       |  n_stop_distinct,
       |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
       |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_len,
       |  (symbol_ratio <= 0.1) AS ok_sym,
       |  (alpha_word_ratio >= 0.8) AS ok_alpha,
       |  (n_stop_distinct >= 2) AS ok_stop,
       |  (n_words >= 50 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
       |    AND n_stop_distinct >= 2) AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** t17 — the BPE-training count step: adjacent character-pair
    * frequencies over the corpus, weighted by word frequency — the top
    * pair IS the next merge a byte-pair-encoding tokenizer would learn.
    * The shape is the reason tokenizer training is feasible at corpus
    * scale, and the entry makes it explicit: the CORPUS-sized work is
    * one word-frequency aggregate (explode + map-side-combined
    * groupBy, the t05/t08 shape); the pair explosion then runs over the
    * DISTINCT VOCABULARY (each word's pairs counted once, multiplied by
    * its frequency) — vocabulary ≪ corpus, and it only shrinks
    * relatively as the corpus grows, so the per-merge-iteration cost
    * after the first count is vocabulary-sized. Top-20 with a total
    * (freq desc, pair) tie-break keeps the result deterministic. */
  private def t17BpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wordFreq = Tables.documents(s, dir)
      .select(explode(words($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    wordFreq
      .filter(length($"w") >= 2)
      .select($"f", explode(transform(sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"f").as("freq"))
      .orderBy($"freq".desc, $"pair").limit(20)
  }

  private val t17Sql =
    """WITH wf AS (
      |  SELECT w, count(*)::BIGINT AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |e AS (SELECT w, f, unnest(generate_series(1, length(w) - 1)) AS i
      |      FROM wf WHERE length(w) >= 2)
      |SELECT substr(w, i, 2) AS pair, sum(f)::BIGINT AS freq
      |FROM e GROUP BY pair
      |ORDER BY freq DESC, pair LIMIT 20""".stripMargin

  /** t18 — the corpus card: what a data team reports after preparing a
    * training corpus, as ONE composed query proving the pipeline stages
    * chain — gopher-style quality gate (word count) → exact-dedup
    * survivors (d01's md5 rule, lowest doc_id wins) → per-(source, lang)
    * document/token totals. Scale shape: `text` is dropped BEFORE any
    * shuffle (the dedup exchange carries (hash, 5 scalar cols) only);
    * the survivor is `min(struct(doc_id, ...))` — a map-side-combinable
    * aggregate, NOT a window sort (no per-partition full ordering, and
    * the hash groupBy is the same single shuffle d01 pays); the card
    * aggregate then combines map-side onto the tiny (source, lang)
    * grid. At 100 TB this plans as two all-combining exchanges over
    * scalar rows — the heaviest object (text) never leaves the scan. */
  private def t18CorpusCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val survivors = Tables.documents(s, dir)
      .select(md5($"text").as("h"), $"doc_id", $"source", $"lang", $"n_chars",
        size(words($"text")).as("n_words"))
      .filter($"n_words" >= 50)
      .select($"h", struct($"doc_id", $"source", $"lang", $"n_chars", $"n_words").as("rec"))
      .groupBy($"h").agg(min($"rec").as("rec"))
      .select($"rec.*")
    survivors.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_tokens"),
        avg($"n_chars").as("avg_chars"))
      .orderBy($"source", $"lang")
  }

  private val t18Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    len(string_split(text, ' ')) AS n_words, md5(text) AS h
      |  FROM documents),
      |q AS (SELECT * FROM toks WHERE n_words >= 50),
      |uniq AS (
      |  SELECT * FROM q
      |  QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1)
      |SELECT source, lang, count(*)::BIGINT AS n_docs,
      |  sum(n_words)::BIGINT AS n_tokens, avg(n_chars) AS avg_chars
      |FROM uniq GROUP BY source, lang ORDER BY source, lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_token_count" -> t01TokenCount _,
    "t02_quality"     -> t02Quality _,
    "t03_langid"      -> t03LangId _,
    "t04_fingerprint" -> t04Fingerprint _,
    "t05_boilerplate" -> t05Boilerplate _,
    "t06_hash_split"  -> t06HashSplit _,
    "t07_tfidf"       -> t07Tfidf _,
    "t08_repetition"  -> t08Repetition _,
    "t09_seq_pack"    -> t09SequencePack _,
    "t10_contamination" -> t10Contamination _,
    "t11_redact"      -> t11Redact _,
    "t12_lm_score"    -> t12LmScore _,
    "t13_mixture"     -> t13Mixture _,
    "t14_weighted_sample" -> t14WeightedSample _,
    "t15_source_cap"  -> t15SourceCap _,
    "t16_gopher_rules" -> t16GopherRules _,
    "t17_bpe_pairs"   -> t17BpePairs _,
    "t18_corpus_card" -> t18CorpusCard _,
  )

  val oracleSql: Map[String, String] = Map(
    "t01_token_count" -> t01Sql,
    "t02_quality"     -> t02Sql,
    "t03_langid"      -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_boilerplate" -> t05Sql,
    "t06_hash_split"  -> t06Sql,
    "t07_tfidf"       -> t07Sql,
    "t08_repetition"  -> t08Sql,
    "t09_seq_pack"    -> t09Sql,
    "t10_contamination" -> t10Sql,
    "t11_redact"      -> t11Sql,
    "t12_lm_score"    -> t12Sql,
    "t13_mixture"     -> t13Sql,
    "t14_weighted_sample" -> t14Sql,
    "t15_source_cap"  -> t15Sql,
    "t16_gopher_rules" -> t16Sql,
    "t17_bpe_pairs"   -> t17Sql,
    "t18_corpus_card" -> t18Sql,
  )
}
