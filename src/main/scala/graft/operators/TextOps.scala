package graft.operators

import graft.functions.{Text, TextSql}
import graft.plans.Hints
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Materialize.MaterializeOps

/** Text analysis over the documents table (SURVEY §2 C): tokenization,
  * quality scoring, heuristic language ID, fingerprinting, shingling,
  * corpus frequencies. All linear per-row maps + one aggregation — no
  * all-pairs work, so the block scales with document count.
  */
object TextOps {
  private type Q = (SparkSession, String) => DataFrame

  /** t1: portable tokenizer + token counts. */
  def t1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", size(Text.tokens($"text")).cast("long").as("n_tokens"))
  }

  val t1Sql: String = s"""
    SELECT doc_id, CAST(len(${TextSql.toks}) AS BIGINT) AS n_tokens
    FROM documents"""

  /** documents + portable tokens — the ONE corpus scan the whole signal
    * family (t2/t10/t12/t13) derives from; [[t14]] checkpoints it so the
    * composite gate tokenizes the corpus once instead of four times.
    */
  private def withToks(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("toks", Text.tokens($"text"))
  }

  /** t2: length/punctuation/stopword quality heuristic. */
  def t2(s: SparkSession, dir: String): DataFrame =
    t2Of(withToks(Tables.documents(s, dir)))

  /** [[t2]] over a pre-tokenized (doc_id, text, toks) base; `extra`
    * columns (e.g. lang for [[t22]]) pass through both projections.
    */
  // floor-truncation, not round(): the inputs are bitwise-identical
  // doubles in both engines, so floor is deterministic, while round()
  // diverges on exact .XXXX5 ties (dyadic ratios like 7/64 produce them)
  private def trunc4(c: Column): Column =
    (floor(c * 10000) / 10000.0).cast("double")

  /** The raw t2 signal columns over bound ($"text", $"toks") — shared by
    * [[t2Of]]'s two-stage projection and [[t14]]'s fused single scan so
    * the quality kernel can never drift between them. `punct` is the
    * native code-point class count — exactly the characters the oracle's
    * regexp_replace removes, without the regex engine (the round-10
    * T2Anatomy probe, since removed; SURVEY.md's round-10 status: the
    * punct regex was t2's hottest kernel at 1.5 s/sf1; the native count
    * is a byte scan).
    */
  private def punctRatioCol: Column = {
    val punct = graft.functions.PunctCount(col("text"))
    when(length(col("text")) > 0, punct * lit(1.0) / length(col("text")))
      .otherwise(0.0)
  }

  private def stopRatioCol: Column = {
    val nTok = size(col("toks"))
    when(nTok > 0,
      Text.stopwordHits(col("toks"), Text.enStops) * lit(1.0) / nTok)
      .otherwise(0.0)
  }

  /** The composite floor-truncated quality over raw (n_tokens, praw,
    * sraw) columns — the exact expression tree of [[t2Of]]'s second
    * stage, so inlined single-scan evaluation stays bitwise-identical.
    */
  private def qualityOf(nTokens: Column, praw: Column, sraw: Column): Column =
    trunc4(least(lit(1.0), nTokens / lit(100.0)) * 0.3 +
      sraw * 0.4 + (lit(1.0) - praw) * 0.3)

  private def t2Of(docs: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    val nTok = size($"toks")
    // two-stage projection (the oracle's m-CTE shape): quality reads the
    // BOUND raw-ratio attributes — inlined, the punct regex and the
    // interpreted stopword HOF each evaluated twice per row (once for
    // the emitted ratio, once inside quality)
    val ex = extra.map(col)
    docs.select(Seq($"doc_id", nTok.cast("long").as("n_tokens"),
        punctRatioCol.as("praw"), stopRatioCol.as("sraw")) ++ ex: _*)
      .select(Seq($"doc_id", $"n_tokens",
        trunc4($"praw").as("punct_ratio"),
        trunc4($"sraw").as("stop_ratio"),
        qualityOf($"n_tokens", $"praw", $"sraw").as("quality")) ++ ex: _*)
  }

  /** The t2 raw-signal CTE pair (tok + m), with optional passthrough
    * columns (", lang") — shared by t2Sql and t22Sql so the quality
    * kernel can never drift between them.
    */
  private def t2MSql(extra: String): String = {
    val stops = TextSql.stopwordHits("toks", Text.enStops)
    s"""tok AS (SELECT doc_id$extra, text, ${TextSql.toks} AS toks FROM documents),
    m AS (SELECT doc_id$extra, CAST(len(toks) AS BIGINT) AS n_tokens,
      CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text,'[^a-zA-Z0-9 ]','','g'))) * 1.0 / length(text) ELSE 0.0 END AS punct_ratio,
      CASE WHEN len(toks) > 0 THEN $stops * 1.0 / len(toks) ELSE 0.0 END AS stop_ratio
      FROM tok)"""
  }

  /** The floor-truncated composite quality over m's raw columns. */
  private val qualityExprSql: String =
    """CAST(floor((least(1.0, n_tokens / 100.0) * 0.3 + stop_ratio * 0.4
            + (1.0 - punct_ratio) * 0.3) * 10000) / 10000.0 AS DOUBLE)"""

  val t2Sql: String = s"""
    WITH ${t2MSql("")}
    SELECT doc_id, n_tokens,
      CAST(floor(punct_ratio * 10000) / 10000.0 AS DOUBLE) AS punct_ratio,
      CAST(floor(stop_ratio * 10000) / 10000.0 AS DOUBLE) AS stop_ratio,
      $qualityExprSql AS quality
    FROM m"""

  /** t3: stopword-hit heuristic language ID (fixed tie order). */
  def t3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).withColumn("toks", Text.tokens($"text"))
    val en = Text.stopwordHits($"toks", Text.enStops).cast("long")
    val de = Text.stopwordHits($"toks", Text.deStops).cast("long")
    val es = Text.stopwordHits($"toks", Text.esStops).cast("long")
    val fr = Text.stopwordHits($"toks", Text.frStops).cast("long")
    docs.select($"doc_id", en.as("en_hits"), de.as("de_hits"),
        es.as("es_hits"), fr.as("fr_hits"))
      .withColumn("pred_lang",
        when($"en_hits" >= $"de_hits" && $"en_hits" >= $"es_hits" &&
          $"en_hits" >= $"fr_hits" && $"en_hits" > 0, "en")
          .when($"de_hits" >= $"es_hits" && $"de_hits" >= $"fr_hits" &&
            $"de_hits" > 0, "de")
          .when($"es_hits" >= $"fr_hits" && $"es_hits" > 0, "es")
          .when($"fr_hits" > 0, "fr")
          .otherwise("unknown"))
  }

  val t3Sql: String = {
    def hits(stops: Seq[String]) =
      s"CAST(${TextSql.stopwordHits("toks", stops)} AS BIGINT)"
    s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    h AS (SELECT doc_id, ${hits(Text.enStops)} AS en_hits,
      ${hits(Text.deStops)} AS de_hits, ${hits(Text.esStops)} AS es_hits,
      ${hits(Text.frStops)} AS fr_hits FROM tok)
    SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
      CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
           WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
           WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
           WHEN fr_hits > 0 THEN 'fr'
           ELSE 'unknown' END AS pred_lang
    FROM h"""
  }

  /** t4: md5 fingerprint of normalized text. */
  def t4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5(Text.normText($"text")).as("fp"))
  }

  val t4Sql: String = s"SELECT doc_id, md5(${TextSql.norm}) AS fp FROM documents"

  /** t5: 3-gram shingle counts. */
  def t5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", Text.tokens($"text"))
      .withColumn("sh", Text.shingles($"toks"))
      .select($"doc_id",
        size(array_distinct($"sh")).cast("long").as("n_shingles"),
        size($"sh").cast("long").as("n_total"))
  }

  val t5Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    sh AS (SELECT doc_id, ${TextSql.shingles("toks")} AS sh FROM tok)
    SELECT doc_id, CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles,
      CAST(len(sh) AS BIGINT) AS n_total
    FROM sh"""

  /** t6: corpus top-20 token frequencies (deterministic tiebreak). */
  def t6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(Text.tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  val t6Sql: String = s"""
    WITH tok AS (SELECT unnest(${TextSql.toks}) AS token FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
    GROUP BY token ORDER BY n DESC, token LIMIT 20"""

  /** t7: BPE-style pre-tokenizer (word runs + single non-word marks). */
  def t7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = regexp_extract_all(lower($"text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))
    Tables.documents(s, dir)
      .withColumn("bpe", toks)
      .select($"doc_id", size($"bpe").cast("long").as("n_bpe"),
        size(array_distinct($"bpe")).cast("long").as("n_distinct"))
  }

  val t7Sql: String = """
    WITH b AS (SELECT doc_id,
      regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]') AS bpe
      FROM documents)
    SELECT doc_id, CAST(len(bpe) AS BIGINT) AS n_bpe,
      CAST(len(list_distinct(bpe)) AS BIGINT) AS n_distinct
    FROM b"""

  /** t8: TF-IDF top-3 terms per document (deterministic tiebreaks). The
    * corpus count rides the DAG as a 1-row broadcast (crossJoin of the
    * count aggregate) instead of a separate driver `count()` action — one
    * job, no extra scan-and-wait before the real query starts.
    */
  def t8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val nDf = docs.agg(count(lit(1)).as("n"))
    val tok = docs.withColumn("toks", Text.tokens($"text"))
      .select($"doc_id", explode($"toks").as("token"))
    // document frequency is just the per-token row count of tf (tf has
    // one row per (doc, token)), so both the df branch and the join
    // consume the SAME tf aggregation — Spark's ReuseExchange serves
    // both from one shuffle, so the corpus is scanned+tokenized exactly
    // once with no eager materialization barrier in the middle
    val tf = tok.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"token")
    // df is vocabulary-sized — broadcastable for GB-scale corpora but not
    // guaranteed at 100 TB (100M+ distinct tokens), so the hint is
    // size-guarded; past the bound it shuffle-joins on token and the
    // ReuseExchange structure (one tf shuffle feeding both branches)
    // survives unchanged
    tf.join(Hints.maybeBroadcast(df), "token")
      .crossJoin(broadcast(nDf))
      .withColumn("score", round($"tf" * log(($"n" * lit(1.0)) / $"df"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"token", $"score", $"rnk")
  }

  val t8Sql: String = s"""
    WITH tok AS (SELECT doc_id, unnest(${TextSql.toks}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
        round(tf.tf * ln(n.n * 1.0 / df.df), 6) AS score
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, score,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, token) AS BIGINT) AS rnk
      FROM scored)
    SELECT doc_id, token, score, rnk FROM ranked WHERE rnk <= 3"""

  /** t9: deterministic md5-bucket train/val/test split (the portable form
    * of hash-based dataset splitting — stable under reshuffling/reruns).
    */
  def t9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10) % 10)
      .cast("long")
    Tables.documents(s, dir)
      .select($"doc_id", bucket.as("bucket"))
      .withColumn("split",
        when($"bucket" === 0, "test").when($"bucket" === 1, "val")
          .otherwise("train"))
  }

  val t9Sql: String = """
    WITH b AS (SELECT doc_id,
      CAST(('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,4))::UBIGINT % 10 AS BIGINT) AS bucket
      FROM documents)
    SELECT doc_id, bucket,
      CASE WHEN bucket = 0 THEN 'test' WHEN bucket = 1 THEN 'val'
           ELSE 'train' END AS split
    FROM b"""

  /** t10: repetition / boilerplate score — the duplicated-shingle ratio
    * (1 - distinct/total word 3-grams). High values flag template or
    * looping text that LLM-pipeline quality filters drop. The ratio is a
    * single IEEE division of two exact ints — bitwise identical across
    * engines, no rounding needed.
    */
  def t10(s: SparkSession, dir: String): DataFrame =
    t10Of(withToks(Tables.documents(s, dir)))

  /** [[t10]] over a pre-tokenized base. */
  /** [[t10]]'s shingles are 62-bit [[graft.functions.WindowPolyHash]]
    * keys, not strings: the distinct count is over packed hashes (native
    * codegen, no interpreted string-shingle HOF — measured 1.4 s + 1.7 s
    * for build+distinct at sf1), with the oracle replaying the identical
    * arithmetic. Collision odds per doc: ~n_shingles²/2^63 — nil.
    */
  /** Repetition ratio over bound (n_shingles, n_distinct) counts — the
    * exact [[t10Of]] expression, shared with [[t14]]'s fused scan.
    */
  private def repRatioOf(nSh: Column, nDist: Column): Column =
    when(nSh === 0, lit(0.0)).otherwise(
      lit(1.0) - nDist.cast("double") / nSh)

  private def t10Of(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("sh", graft.functions.WindowPolyHash($"toks", 3))
      .select($"doc_id",
        size($"sh").cast("long").as("n_shingles"),
        size(array_distinct($"sh")).cast("long").as("n_distinct"))
      .withColumn("rep_ratio", repRatioOf($"n_shingles", $"n_distinct"))
  }

  val t10Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    sh AS (SELECT doc_id,
      ${TextSql.windowHashes(TextSql.tokenHashes("toks"), 3)} AS sh FROM tok)
    SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
      CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
      CASE WHEN len(sh) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
      END AS rep_ratio
    FROM sh"""

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{4}-[0-9]{4}"

  /** t11: PII detection + scrubbing — email/phone counts and a redacted
    * text digest. The corpus has no PII, so the query plants a
    * deterministic synthetic contact line on a third of the docs first
    * (mirrored in the oracle) — the operator is then exercised on real
    * matches instead of vacuous zeros. Patterns avoid lookarounds so the
    * Java and RE2 dialects agree.
    */
  def t11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = when($"doc_id" % 3 === 0,
        concat(lit(" contact user"), $"doc_id", lit("@mail.example.com now")))
      .when($"doc_id" % 3 === 1,
        concat(lit(" call 555-01"), lpad(($"doc_id" % 100).cast("string"), 2, "0"),
          lit("-1234 today")))
      .otherwise(lit(""))
    Tables.documents(s, dir)
      .withColumn("t2", concat($"text", planted))
      .select($"doc_id",
        regexp_count($"t2", lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count($"t2", lit(PhoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace($"t2", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("clean_md5"))
  }

  val t11Sql: String = s"""
    WITH p AS (SELECT doc_id, text ||
      CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
           WHEN doc_id % 3 = 1
             THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234 today'
           ELSE '' END AS t2
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones,
      md5(regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
        '$PhoneRe', '<PHONE>', 'g')) AS clean_md5
    FROM p"""

  /** Corpus frequency at or below which a token counts as "rare". */
  val RareMax = 2L

  /** t12: rare-word quality stats — per-doc token count, rare-token count
    * (corpus frequency <= [[RareMax]]) and rare fraction. A
    * gibberish/OCR-noise signal for quality filtering: noisy docs are
    * dominated by corpus-rare tokens. Two shuffles (corpus term
    * frequency, then per-doc aggregate after the frequency join); the
    * frequency table is vocabulary-sized, and every count is integer so
    * the single rounded division hash-matches DuckDB exactly.
    */
  def t12(s: SparkSession, dir: String): DataFrame =
    t12Of(withToks(Tables.documents(s, dir)))

  /** [[t12]] over a pre-tokenized base. */
  /** [[t12]]'s frequency key is the packed 62-bit token hash (k=1 window
    * = the per-token hash itself): the corpus-wide explode, frequency
    * groupBy and join back all ship 8-byte longs instead of token
    * strings; the oracle replays the identical hashing.
    */
  private def t12Of(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // per-token rows — serialized storage (the d13/t14 re-inflation class)
    val toks = graft.plans.Materialize.wideCheckpoint(docs
      .select($"doc_id", explode(graft.functions.WindowPolyHash($"toks", 1)).as("w")))
    val freq = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
    toks.join(freq, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when($"cnt" <= RareMax, 1L).otherwise(0L)).cast("long").as("n_rare"))
      .select($"doc_id", $"n_tokens", $"n_rare",
        round($"n_rare" * lit(1.0) / $"n_tokens", 6).as("rare_frac"))
  }

  val t12Sql: String = s"""
    WITH tok AS (SELECT doc_id,
      unnest(${TextSql.tokenHashes(TextSql.toks)}) AS w FROM documents),
    freq AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN cnt <= $RareMax THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      round(sum(CASE WHEN cnt <= $RareMax THEN 1 ELSE 0 END) * 1.0
            / count(*), 6) AS rare_frac
    FROM tok JOIN freq USING (w) GROUP BY doc_id"""

  /** t13: bigram fluency score — a corpus-statistical language-model
    * proxy for quality filtering: per doc, the mean corpus frequency of
    * its word bigrams (fluent prose reuses common word transitions;
    * gibberish and boilerplate-free noise sit on rare ones). The bigram
    * table is built once (one explode + checkpoint), counted with one
    * hash aggregate, and joined back — the t8/t12 single-scan shape, all
    * integer until the final rounded division. Docs with < 2 tokens
    * score 0 with n_bigrams = 0.
    */
  def t13(s: SparkSession, dir: String): DataFrame =
    t13Of(withToks(Tables.documents(s, dir)))

  /** [[t13]] over a pre-tokenized base. */
  private def t13Of(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // bigram key = 62-bit packed window hash (k=2), native codegen — the
    // corpus explode/groupBy/join ship longs, not bigram strings, and the
    // interpreted element_at+concat HOF is gone; oracle replays it
    // per-bigram rows — serialized storage (the d13/t14 re-inflation class)
    val bg = graft.plans.Materialize.wideCheckpoint(docs
      .select($"doc_id", explode(graft.functions.WindowPolyHash($"toks", 2)).as("bg")))
    val freq = bg.groupBy($"bg").agg(count(lit(1)).as("cnt"))
    val perDoc = bg.join(freq, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum($"cnt").cast("long").as("freq_sum"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        round(coalesce($"freq_sum" * lit(1.0) / $"n_bigrams", lit(0.0)), 6)
          .as("fluency"))
  }

  val t13Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    bg AS (SELECT doc_id,
        unnest(${TextSql.windowHashes(TextSql.tokenHashes("toks"), 2)}) AS bg
      FROM tok),
    freq AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        sum(cnt) AS freq_sum
      FROM bg JOIN freq USING (bg) GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
      round(COALESCE(pd.freq_sum * 1.0 / pd.n_bigrams, 0.0), 6) AS fluency
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"""

  /** Thresholds for [[t14]]'s composite keep/drop gate — set so each
    * rule actually fires on the synthetic corpus (rep/fluency tails are
    * narrow there; rare_frac ~0 so that rule is a guard for genuinely
    * noisy corpora).
    */
  val GateMinQuality = 0.35
  val GateMaxRep = 0.015
  val GateMaxRareFrac = 0.3
  val GateMinFluency = 28.5

  /** t14: the composite QUALITY GATE — the actual keep/drop decision an
    * LLM data pipeline runs after scoring: a doc survives iff its t2
    * quality, t10 repetition, t12 rare-word fraction and t13 bigram
    * fluency all clear their thresholds. Each signal is an
    * already-hash-matched linear operator; the gate is three joins on
    * doc_id (co-partitioned after the first shuffle) emitting the
    * signals + per-rule flags + the final keep.
    */
  /** The corpus-level frequency tables t12/t13 score against — learned
    * ONCE on the static corpus for the streaming gate (`StreamOps.g16`),
    * the g11-codebook pattern: (token-hash freq, bigram-hash freq), both
    * checkpointed.
    */
  private[graft] def gateStats(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val base = withToks(docs).select($"doc_id", $"toks")
    val tokFreq = base
      .select(explode(graft.functions.WindowPolyHash($"toks", 1)).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val bgFreq = base
      .select(explode(graft.functions.WindowPolyHash($"toks", 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    (tokFreq, bgFreq)
  }

  /** Score a batch of docs against corpus-level frequency tables —
    * [[t14]]'s four signals and verdict, with the corpus statistics
    * EXTERNAL (so a streaming micro-batch scores statelessly against the
    * learned tables; when the batch union replays the corpus the result
    * is bitwise t14's).
    */
  private[graft] def gateScore(batch: DataFrame, tokFreq: DataFrame,
      bgFreq: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    val b = graft.plans.Materialize.wideCheckpoint(
      withToks(batch).select($"doc_id", $"text", $"toks"))
    val q12 = b
      .select($"doc_id", explode(graft.functions.WindowPolyHash($"toks", 1)).as("w"))
      .join(tokFreq, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when($"cnt" <= RareMax, 1L).otherwise(0L)).cast("long").as("n_rare"))
      .select($"doc_id",
        round($"n_rare" * lit(1.0) / $"n_tokens", 6).as("rare_frac"))
    val perDoc = b
      .select($"doc_id", explode(graft.functions.WindowPolyHash($"toks", 2)).as("bg"))
      .join(bgFreq, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum($"cnt").cast("long").as("freq_sum"))
    val q13 = b.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        round(coalesce($"freq_sum" * lit(1.0) / $"n_bigrams", lit(0.0)), 6)
          .as("fluency"))
    t2Of(b).select($"doc_id", $"quality")
      .join(t10Of(b).select($"doc_id", $"rep_ratio"), "doc_id")
      .join(q12, "doc_id")
      .join(q13, "doc_id")
      .select($"doc_id", $"quality", $"rep_ratio", $"rare_frac", $"fluency",
        ($"quality" >= GateMinQuality).as("ok_quality"),
        ($"rep_ratio" <= GateMaxRep).as("ok_rep"),
        ($"rare_frac" <= GateMaxRareFrac).as("ok_rare"),
        ($"fluency" >= GateMinFluency).as("ok_fluency"))
      .withColumn("keep",
        $"ok_quality" && $"ok_rep" && $"ok_rare" && $"ok_fluency")
  }

  /** Tag bit separating [[t14]]'s k=2 bigram hashes from its k=1 token
    * hashes in the fused frequency stream: WindowPolyHash values are
    * 62-bit, so setting bit 62 is injective and keeps both families'
    * corpus counts exactly those of separate tables.
    */
  private val BigramTag = 1L << 62

  def t14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE tokenize scan computes the two PER-ROW signals (t2 quality,
    // t10 repetition) inline and hands the corpus-statistical signals
    // (t12 rare words, t13 bigram fluency) packed 62-bit hash arrays.
    // The checkpoint carries PRIMITIVES only (doc_id, two doubles, long
    // arrays) — never text/toks: round 13 measured the (doc_id, text,
    // toks) serialized checkpoint at ~2× (each of 4-5 consumer passes
    // re-deserialized the strings; the deserialized level OOM'd at
    // sf100), while long arrays re-read at a fraction of the cost and
    // three passes suffice. Expression trees go through the same bound
    // attribute stages as t2Of/t10Of so values stay bitwise-identical.
    val scored = graft.plans.Materialize.wideCheckpoint(
      withToks(Tables.documents(s, dir))
        .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
          punctRatioCol.as("praw"), stopRatioCol.as("sraw"),
          graft.functions.WindowPolyHash($"toks", 3).as("sh"),
          graft.functions.WindowPolyHash($"toks", 1).as("w1"),
          graft.functions.WindowPolyHash($"toks", 2).as("w2"))
        .select($"doc_id",
          qualityOf($"n_tokens", $"praw", $"sraw").as("quality"),
          size($"sh").cast("long").as("n_shingles"),
          size(array_distinct($"sh")).cast("long").as("n_distinct"),
          $"w1", $"w2")
        .select($"doc_id", $"quality",
          repRatioOf($"n_shingles", $"n_distinct").as("rep_ratio"),
          $"w1", $"w2"))
    // both corpus-frequency families in ONE tagged stream: one explode,
    // one freq aggregate, one join-back, one per-doc aggregate — where
    // t12Of+t13Of ran two of each
    val ex = scored.select($"doc_id",
      explode(concat($"w1",
        transform($"w2", _ + lit(BigramTag)))).as("wt"))
    val freq = ex.groupBy($"wt").agg(count(lit(1)).as("cnt"))
    val stats = ex.join(freq, "wt")
      .groupBy($"doc_id")
      .agg(
        sum(when($"wt" < BigramTag, 1L).otherwise(0L)).cast("long")
          .as("n_tokens"),
        sum(when($"wt" < BigramTag && $"cnt" <= RareMax, 1L).otherwise(0L))
          .cast("long").as("n_rare"),
        sum(when($"wt" >= BigramTag, 1L).otherwise(0L)).cast("long")
          .as("n_bigrams"),
        sum(when($"wt" >= BigramTag, $"cnt").otherwise(lit(0L)))
          .cast("long").as("freq_sum"))
    // inner join: docs with zero tokens are absent, exactly as t12's
    // inner membership made them before
    scored.select($"doc_id", $"quality", $"rep_ratio")
      .join(stats, "doc_id")
      .select($"doc_id", $"quality", $"rep_ratio",
        round($"n_rare" * lit(1.0) / $"n_tokens", 6).as("rare_frac"),
        round(coalesce($"freq_sum" * lit(1.0) / $"n_bigrams", lit(0.0)), 6)
          .as("fluency"))
      .select($"doc_id", $"quality", $"rep_ratio", $"rare_frac", $"fluency",
        ($"quality" >= GateMinQuality).as("ok_quality"),
        ($"rep_ratio" <= GateMaxRep).as("ok_rep"),
        ($"rare_frac" <= GateMaxRareFrac).as("ok_rare"),
        ($"fluency" >= GateMinFluency).as("ok_fluency"))
      .withColumn("keep",
        $"ok_quality" && $"ok_rep" && $"ok_rare" && $"ok_fluency")
  }

  val t14Sql: String = s"""
    WITH q2 AS ($t2Sql), q10 AS ($t10Sql), q12 AS ($t12Sql), q13 AS ($t13Sql)
    SELECT q2.doc_id, q2.quality, q10.rep_ratio, q12.rare_frac, q13.fluency,
      q2.quality >= $GateMinQuality AS ok_quality,
      q10.rep_ratio <= $GateMaxRep AS ok_rep,
      q12.rare_frac <= $GateMaxRareFrac AS ok_rare,
      q13.fluency >= $GateMinFluency AS ok_fluency,
      (q2.quality >= $GateMinQuality AND q10.rep_ratio <= $GateMaxRep
        AND q12.rare_frac <= $GateMaxRareFrac
        AND q13.fluency >= $GateMinFluency) AS keep
    FROM q2 JOIN q10 USING (doc_id) JOIN q12 USING (doc_id)
      JOIN q13 USING (doc_id)"""

  /** Token capacity of one packed training sequence for [[t15]]. */
  val PackBin = 512L

  /** t15: sequence packing — the batch-assembly step before pretraining:
    * documents are concatenated in deterministic order and cut into
    * fixed-capacity token bins; each doc reports the bin it starts in
    * and its token offset inside that bin (GPT-style contiguous packing,
    * where a bin may straddle documents). Packing is per-`lang` shard —
    * the window partitions on the shard key, so no global sort: at
    * 100 TB the cumulative sum runs independently per shard exactly as a
    * sharded packer would.
    */
  def t15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        size(Text.tokens($"text")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    t.withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"lang", $"n_tokens",
        floor(($"cum" - $"n_tokens") / lit(PackBin.toDouble)).cast("long").as("bin"),
        (($"cum" - $"n_tokens") % PackBin).as("bin_offset"))
  }

  val t15Sql: String = s"""
    WITH t AS (SELECT doc_id, lang,
        CAST(len(${TextSql.toks}) AS BIGINT) AS n_tokens FROM documents),
    c AS (SELECT doc_id, lang, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, lang, n_tokens,
      CAST((cum - n_tokens) // $PackBin AS BIGINT) AS bin,
      CAST((cum - n_tokens) % $PackBin AS BIGINT) AS bin_offset
    FROM c"""

  /** Merge rounds learned by [[t16]] (one oracle CTE trio per round) and
    * the vocabulary cap feeding the loop (top words by (freq desc, word)
    * — the min-frequency cut every BPE trainer applies, and what keeps
    * the merge loop bounded regardless of corpus size).
    */
  val BpeMergeRounds = 16
  val BpeVocabCap = 4096

  // the delimited symbol representation t16 shares across engines: every
  // symbol is wrapped sym, so one merge round is ONE plain
  // string replace (both engines scan left-to-right, non-overlapping —
  // exactly BPE's greedy application order), and boundary collisions are
  // impossible because tokens are alphanumeric only
  private val SymA = "\u0001"
  private val SymB = "\u0002"

  /** t16: BPE MERGE LEARNING — the corpus-statistics loop a tokenizer
    * trainer runs (not just [[t7]]'s pre-tokenization): starting from
    * characters, repeatedly count adjacent symbol pairs (weighted by word
    * frequency) and merge the most frequent pair, [[BpeMergeRounds]]
    * times with a deterministic (count desc, left, right) tie-break.
    * Scale shape: the ONLY corpus-scale step is the word-frequency
    * aggregate; the merge loop runs on the capped vocabulary table
    * (≤ [[BpeVocabCap]] rows), and the driver sees one (l, r) pair per
    * round — the s3-Lloyd codebook discipline. Emits one row per learned
    * merge: (round, lhs, rhs, pair_count).
    */
  def t16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = Tables.documents(s, dir)
      .select(explode(Text.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).cast("long").as("n"))
      .orderBy($"n".desc, $"w").limit(BpeVocabCap)
    var state = wf
      .select(regexp_replace($"w", "(.)", SymA + "$1" + SymB).as("s"), $"n")
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= BpeMergeRounds && !exhausted) {
      val syms = split(substring($"s", lit(2), length($"s") - 2),
        SymB + SymA)
      val best = state
        .select($"n", syms.as("sy"))
        .select($"n", when(size($"sy") >= 2,
          transform(sequence(lit(1), size($"sy") - 1),
            i => struct(element_at($"sy", i).as("l"),
              element_at($"sy", i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))
          .as("prs"))
        .select($"n", explode($"prs").as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round, l, r, cnt))
        state = state
          .select(org.apache.spark.sql.functions.replace($"s",
            lit(SymA + l + SymB + SymA + r + SymB),
            lit(SymA + l + r + SymB)).as("s"), $"n")
          .materialize
        round += 1
      }
    }
    merges.result()
      .toDF("round", "lhs", "rhs", "pair_count")
  }

  /** The same loop unrolled as oracle SQL: one (pairs, best, state) CTE
    * trio per round (the s3 Lloyd-unroll pattern). `LEFT JOIN ... ON
    * TRUE` instead of a cross join so an exhausted pair table carries the
    * state forward instead of annihilating it; MATERIALIZED because
    * DuckDB inlines CTEs and each state feeds two consumers.
    */
  /** The t16 trainer loop as a WITH-body (tok/wf/v0 + one (pairs, best,
    * state) CTE trio per round) — shared by [[t16Sql]] and [[t18Sql]],
    * which applies the learned b1..bK merge CTEs to the corpus.
    */
  private val t16Ctes: String = {
    val a = "chr(1)"
    val b = "chr(2)"
    val sb = new StringBuilder
    sb ++= s"""
    WITH tok AS (SELECT unnest(${TextSql.toks}) AS w FROM documents),
    wf AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w
      ORDER BY n DESC, w LIMIT $BpeVocabCap),
    v0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', $a || '\\1' || $b, 'g') AS s, n
      FROM wf)"""
    for (k <- 1 to BpeMergeRounds) {
      val prev = s"v${k - 1}"
      sb ++= s""",
    p$k AS (SELECT pr.l AS l, pr.r AS r, sum(n) AS cnt FROM (
        SELECT n, unnest(list_transform(range(1, len(sy)),
          i -> struct_pack(l := sy[i], r := sy[i+1]))) AS pr
        FROM (SELECT string_split(substr(s, 2, length(s)-2), $b || $a) AS sy,
              n FROM $prev))
      GROUP BY pr.l, pr.r),
    b$k AS MATERIALIZED (
      SELECT $k AS round, l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
    v$k AS MATERIALIZED (
      SELECT CASE WHEN b.l IS NULL THEN v.s ELSE replace(v.s,
          $a || b.l || $b || $a || b.r || $b, $a || b.l || b.r || $b) END AS s,
        v.n
      FROM $prev v LEFT JOIN b$k b ON TRUE)"""
    }
    sb.toString
  }

  val t16Sql: String = t16Ctes + (1 to BpeMergeRounds)
    .map(k => s"SELECT round, l, r, cnt FROM b$k")
    .mkString("\n    SELECT round, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM (\n    ",
      "\n    UNION ALL ", ")")

  /** Batch size (docs per training batch) for [[t17]]. */
  val EpochBatch = 32L

  /** t17: deterministic EPOCH SHUFFLE — the training-order permutation
    * step after packing ([[t15]]): each document's position in its epoch
    * is the rank of `md5(epoch:doc_id)` within its `lang` shard ([[t9]]'s
    * hash-key discipline — stable under reruns and resumable mid-epoch),
    * then positions group into [[EpochBatch]]-doc batches. The window
    * partitions on the shard key: no global sort, shards permute
    * independently — exactly how a sharded data loader draws its epoch
    * order at 100 TB.
    */
  def t17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"skey", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        md5(concat(lit("e1:"), $"doc_id".cast("string"))).as("skey"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("batch", (($"pos" - 1) / EpochBatch).cast("long"))
  }

  val t17Sql: String = s"""
    WITH k AS (SELECT doc_id, lang,
        md5('e1:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents)
    SELECT doc_id, lang, skey,
      CAST(row_number() OVER w AS BIGINT) AS pos,
      CAST((row_number() OVER w - 1) // $EpochBatch AS BIGINT) AS batch
    FROM k WINDOW w AS (PARTITION BY lang ORDER BY skey, doc_id)"""

  /** t18: BPE ENCODE — apply [[t16]]'s learned merge table to the whole
    * corpus (learn → ENCODE → pack → shuffle, the tokenizer story's
    * missing middle): every document's tokens are re-encoded through the
    * [[BpeMergeRounds]] merges in training order and the doc reports its
    * char-symbol count, encoded-symbol count and compression ratio.
    * Scale shape: merges are a bounded driver scalar (K rows — the
    * s3-codebook discipline); encoding runs over the DISTINCT-word table
    * (each word encoded once, then joined back to per-doc counts), so
    * the per-row merge chain costs |vocab| × K, not |corpus| × K — the
    * same dedup-the-work trick a production tokenizer's cache applies.
    */
  def t18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = t16(s, dir).orderBy($"round")
      .select($"lhs", $"rhs").as[(String, String)].collect()
    val wd = Tables.documents(s, dir)
      .select($"doc_id", explode(Text.tokens($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .materialize // feeds both the distinct-word encode and the join back
    val enc0 = wd.select($"w").distinct()
      .withColumn("s", regexp_replace($"w", "(.)", SymA + "$1" + SymB))
    val encoded = merges.foldLeft(enc0) { case (df, (l, r)) =>
      df.withColumn("s", org.apache.spark.sql.functions.replace($"s",
        lit(SymA + l + SymB + SymA + r + SymB), lit(SymA + l + r + SymB)))
    }
    val nsym = encoded.select($"w",
      size(split(substring($"s", lit(2), length($"s") - 2), SymB + SymA))
        .cast("long").as("ns"))
    wd.join(nsym, "w")
      .groupBy($"doc_id")
      .agg(sum($"c" * length($"w")).cast("long").as("n_chars"),
        sum($"c" * $"ns").cast("long").as("n_syms"))
      .withColumn("ratio", round($"n_chars" * lit(1.0) / $"n_syms", 6))
  }

  /** [[t18]]'s oracle: the t16 trainer CTEs (so DuckDB re-learns the
    * identical b1..bK merge rows) + the same distinct-word encode chain
    * joined back to per-doc token counts.
    */
  val t18Sql: String = {
    val a = "chr(1)"
    val b = "chr(2)"
    val sb = new StringBuilder
    sb ++= t16Ctes
    sb ++= s""",
    wd AS MATERIALIZED (SELECT doc_id, w, count(*) AS c FROM
      (SELECT doc_id, unnest(${TextSql.toks}) AS w FROM documents)
      GROUP BY doc_id, w),
    e0 AS (SELECT w, regexp_replace(w, '(.)', $a || '\\1' || $b, 'g') AS s
      FROM (SELECT DISTINCT w FROM wd))"""
    for (k <- 1 to BpeMergeRounds) {
      sb ++= s""",
    e$k AS (SELECT e.w, CASE WHEN m.l IS NULL THEN e.s ELSE replace(e.s,
        $a || m.l || $b || $a || m.r || $b, $a || m.l || m.r || $b) END AS s
      FROM e${k - 1} e LEFT JOIN b$k m ON TRUE)"""
    }
    sb ++= s""",
    ns AS (SELECT w, CAST(len(string_split(substr(s, 2, length(s)-2),
        $b || $a)) AS BIGINT) AS ns FROM e$BpeMergeRounds)
    SELECT wd.doc_id,
      CAST(sum(wd.c * length(wd.w)) AS BIGINT) AS n_chars,
      CAST(sum(wd.c * ns.ns) AS BIGINT) AS n_syms,
      round(sum(wd.c * length(wd.w)) * 1.0 / sum(wd.c * ns.ns), 6) AS ratio
    FROM wd JOIN ns ON wd.w = ns.w
    GROUP BY wd.doc_id"""
    sb.toString
  }

  /** Chunk capacity and stride (tokens) for [[t19]] — stride < capacity
    * gives the overlap a retrieval/pretraining chunker keeps for context
    * continuity across boundaries.
    */
  val ChunkTokens = 128L
  val ChunkStride = 96L

  /** t19: DOC CHUNKING — split each document's token stream into
    * fixed-capacity windows every [[ChunkStride]] tokens (capacity
    * [[ChunkTokens]], so consecutive chunks overlap by capacity−stride):
    * the long-document splitting step feeding embedding/retrieval
    * pipelines. Emits (doc_id, chunk_id, tok_start, chunk_len,
    * chunk_md5 of the space-joined token slice). Pure per-row explode —
    * no shuffle, no window; chunk count per doc = ⌊(n−1)/stride⌋+1.
    */
  def t19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" > 0)
      .select($"doc_id", $"toks", $"n",
        explode(sequence(lit(0L),
          floor(($"n" - 1) / ChunkStride).cast("long"))).as("chunk_id"))
      .withColumn("tok_start", $"chunk_id" * ChunkStride)
      .withColumn("chunk_len", least($"n" - $"tok_start", lit(ChunkTokens)))
      .select($"doc_id", $"chunk_id", $"tok_start", $"chunk_len",
        md5(concat_ws(" ", slice($"toks", ($"tok_start" + 1).cast("int"),
          $"chunk_len".cast("int")))).as("chunk_md5"))
  }

  val t19Sql: String = s"""
    WITH d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM
      (SELECT doc_id, ${TextSql.toks} AS toks FROM documents)
      WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, n,
      unnest(range(0, (n-1)//$ChunkStride + 1)) AS k FROM d)
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
      CAST(k*$ChunkStride AS BIGINT) AS tok_start,
      CAST(least(n - k*$ChunkStride, $ChunkTokens) AS BIGINT) AS chunk_len,
      md5(array_to_string(list_slice(toks,
        CAST(k*$ChunkStride + 1 AS INTEGER),
        CAST(k*$ChunkStride + least(n - k*$ChunkStride, $ChunkTokens)
          AS INTEGER)), ' ')) AS chunk_md5
    FROM c"""

  /** t20: token-budgeted MIXTURE RESAMPLING — the data-mixture step before
    * pretraining: given a target language mixture (uniform here) and a
    * global token budget of half the corpus, compute each language's keep
    * rate `min(1, budget·share / lang_tokens)` and sample documents to it
    * deterministically. The rate is carried as an exact integer threshold
    * over the 32-bit md5-prefix space ([[Relational.q37]]'s discipline —
    * `thr = (B·2^32) div (L·T_l)`, all BIGINT floor arithmetic, so both
    * engines derive the identical threshold from the corpus stats), and a
    * doc survives iff `u32(md5('mix'‖doc_id)) < thr(lang)`. One linear
    * tokenize scan, one L-row aggregate, one broadcast rate join — the
    * whole corpus-rebalancing decision is a pure per-row predicate, and
    * over-represented languages are downsampled toward the uniform share
    * while languages under their share keep everything (rate caps at 1).
    * At true 100 TB token counts the `B·2^32` product would move to
    * DECIMAL(38) arithmetic; at any testable SF 64-bit is exact.
    */
  def t20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        size(Text.tokens($"text")).cast("long").as("n_tokens"))
      .localCheckpoint(false)
    val perLang = toks.groupBy($"lang").agg(sum($"n_tokens").as("t_l"))
    val tot = perLang.agg(sum($"t_l").as("t"),
      count(lit(1)).cast("long").as("l"))
    val rates = perLang.crossJoin(broadcast(tot))
      .select($"lang", expr(
        "least(CAST(4294967296 AS BIGINT), " +
          "((t DIV 2) * 4294967296) DIV (l * greatest(t_l, 1)))").as("thr"))
    val frac = conv(
      substring(md5(concat(lit("mix"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long")
    toks.join(broadcast(rates), "lang")
      .select($"doc_id", $"lang", $"n_tokens", (frac < $"thr").as("keep"))
  }

  val t20Sql: String = s"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, CAST(len(${TextSql.toks}) AS BIGINT) AS n_tokens
      FROM documents),
    pl AS (SELECT lang, sum(n_tokens) AS t_l FROM toks GROUP BY lang),
    tot AS (SELECT sum(t_l) AS t, CAST(count(*) AS BIGINT) AS l FROM pl),
    rates AS (SELECT lang,
      least(CAST(4294967296 AS BIGINT),
        ((t // 2) * 4294967296) // (l * greatest(t_l, 1))) AS thr
      FROM pl CROSS JOIN tot)
    SELECT toks.doc_id, toks.lang, toks.n_tokens,
      CAST(('0x' || substring(md5('mix' || CAST(toks.doc_id AS VARCHAR)), 1, 8))
        AS UBIGINT) < thr AS keep
    FROM toks JOIN rates USING (lang)"""

  /** t21: BENCHMARK-CONTAMINATION CHECK — the decontamination pass every
    * LLM data pipeline runs before training: for each held-out "test"
    * document (doc_id ≡ 0 mod 10), the fraction of its word 5-gram
    * shingles that appear ANYWHERE in the train split. Distinct from
    * dedup: this is cross-split containment (any-overlap against a
    * corpus-wide set), not pairwise similarity. Scale shape: shingles
    * join on a 64-bit md5-prefix key — the train side is a distinct
    * shingle-hash set (bounded by corpus vocabulary of n-grams), the join
    * shuffles on the hash, and everything else is per-row; no all-pairs
    * work. The ratio is one IEEE division of exact ints.
    */
  def t21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = withToks(Tables.documents(s, dir))
      .select($"doc_id", explode(Text.shingles($"toks", 5)).as("sh"))
      .select($"doc_id", substring(md5($"sh"), 1, 16).as("h"))
    val train = sh.filter($"doc_id" % 10 =!= 0).select($"h").distinct()
    val hits = sh.filter($"doc_id" % 10 === 0)
      .join(train.withColumn("hit", lit(1)), Seq("h"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        count($"hit").cast("long").as("n_hit"))
    Tables.documents(s, dir).filter($"doc_id" % 10 === 0)
      .select($"doc_id")
      .join(hits, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_hit", lit(0L)).as("n_hit"))
      .withColumn("contamination",
        when($"n_shingles" === 0, lit(0.0))
          .otherwise($"n_hit".cast("double") / $"n_shingles"))
  }

  val t21Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(${TextSql.shingles("toks", 5)}) AS sh
           FROM tok),
    hs AS (SELECT doc_id, substring(md5(sh), 1, 16) AS h FROM sh),
    train AS (SELECT DISTINCT h FROM hs WHERE doc_id % 10 <> 0),
    agg AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(count(tr.h) AS BIGINT) AS n_hit
      FROM (SELECT * FROM hs WHERE doc_id % 10 = 0) t
      LEFT JOIN train tr ON t.h = tr.h
      GROUP BY t.doc_id)
    SELECT d.doc_id, coalesce(a.n_shingles, 0) AS n_shingles,
      coalesce(a.n_hit, 0) AS n_hit,
      CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
        ELSE CAST(a.n_hit AS DOUBLE) / a.n_shingles END AS contamination
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN agg a USING (doc_id)"""

  /** t22: CCNet-STYLE QUALITY BUCKETING — the head/middle/tail split a
    * pretraining pipeline cuts each language's corpus into before
    * mixture weighting (Wenzek et al. LREC'20 bucket by LM perplexity;
    * here by the t2 composite, same mechanism): per language, docs with
    * fewer than n/3 strictly-better peers are `head`, fewer than 2n/3
    * `middle`, else `tail` — all ties share a bucket. Scale shape: NO
    * per-language global sort (the q34/ntile formulation would total-sort
    * each language at 100 TB) — quality is floor-truncated to 1e-4 so
    * the distinct (lang, quality) domain is ≤10001 rows/language; one
    * corpus aggregate builds it, a tiny window ranks it, and the labels
    * broadcast-join back. Integer-exact thresholds, full hash gate.
    */
  def t22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = t2Of(withToks(Tables.documents(s, dir)), Seq("lang"))
      .select($"doc_id", $"lang", $"quality")
    val counts = q.groupBy($"lang", $"quality")
      .agg(count(lit(1)).cast("long").as("c"))
    val wcum = Window.partitionBy($"lang").orderBy($"quality".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lab = counts
      .withColumn("n_better", coalesce(sum($"c").over(wcum), lit(0L)))
      .withColumn("n_lang", sum($"c").over(Window.partitionBy($"lang")))
      .select($"lang", $"quality",
        when($"n_better" * 3 < $"n_lang", "head")
          .when($"n_better" * 3 < $"n_lang" * 2, "middle")
          .otherwise("tail").as("bucket"))
    q.join(Hints.maybeBroadcast(lab), Seq("lang", "quality"))
      .select($"doc_id", $"lang", $"quality", $"bucket")
  }

  val t22Sql: String = s"""
    WITH ${t2MSql(", lang")},
    q AS (SELECT doc_id, lang, $qualityExprSql AS quality FROM m),
    counts AS (SELECT lang, quality, CAST(count(*) AS BIGINT) AS c
      FROM q GROUP BY lang, quality),
    cum AS (SELECT lang, quality,
      coalesce(sum(c) OVER (PARTITION BY lang ORDER BY quality DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_better,
      sum(c) OVER (PARTITION BY lang) AS n_lang FROM counts),
    lab AS (SELECT lang, quality,
      CASE WHEN n_better * 3 < n_lang THEN 'head'
           WHEN n_better * 3 < n_lang * 2 THEN 'middle'
           ELSE 'tail' END AS bucket FROM cum)
    SELECT q.doc_id, q.lang, q.quality, lab.bucket
    FROM q JOIN lab USING (lang, quality)"""

  /** Heavy-hitter threshold denominator for [[t23]]: a token is heavy
    * when its exact corpus count exceeds totalTokens / HhK. Also the
    * per-partition Misra-Gries capacity (capacity = the threshold
    * denominator is exactly what candidate completeness needs).
    */
  val HhK = 5000

  /** t23: EXACT HEAVY HITTERS over the token stream — the
    * vocabulary-mining pass a pretraining pipeline runs to pick
    * stopword/domain-term lists: every token whose exact corpus count
    * exceeds totalTokens/[[HhK]], with its exact count. Two-pass
    * candidate-generate-then-recount (the canonical scale form, MG84):
    *
    * Pass 1: per-partition MISRA-GRIES summaries of capacity [[HhK]]
    * (bounded memory, zero shuffle of the token stream) + one tally row
    * per partition. Completeness is the pigeonhole guarantee: a token
    * with global count > N/HhK exceeds partN/HhK in at least one
    * partition, and MG with capacity HhK never fully evicts such a
    * token there — so the candidate union is a superset of the true
    * heavy set no matter how rows are partitioned. Only the candidate
    * ids (≤ HhK × partitions) and the per-partition tallies ever reach
    * an exchange — at 100 TB with a 100M+ vocabulary this replaces the
    * full vocab-wide shuffle a plain groupBy pays with an
    * O(HhK)-per-partition one.
    *
    * Pass 2: exact recount restricted to candidates (size-guarded
    * broadcast semi-reduction; partial+final hash agg), integer-exact
    * threshold `c * HhK > N`. The recount makes the RESULT independent
    * of the partition layout pass 1 happened to see (MG candidate SETS
    * are layout-dependent; the filtered exact counts are not — spec
    * asserts identity across repartitionings), so the op carries a full
    * DuckDB hash gate against the plain GROUP BY ... HAVING oracle.
    */
  /** [[t23]]'s pass 1, shared with the Round11Spec layout/bound tests so
    * the specs can never drift from the shipped summarizer: per-partition
    * capacity-[[HhK]] Misra-Gries candidate rows (cnt=0, is_tally=false)
    * plus one total-token tally row per partition (is_tally=true).
    */
  private[graft] def mgSummaries(
      tok: org.apache.spark.sql.Dataset[String]): DataFrame = {
    val s = tok.sparkSession
    import s.implicits._
    tok.mapPartitions { it =>
      val m = new java.util.HashMap[String, Long]()
      var total = 0L
      while (it.hasNext) {
        val t = it.next(); total += 1
        val c = m.getOrDefault(t, 0L)
        if (c > 0L || m.size < HhK) m.put(t, c + 1L)
        else {
          // decrement-all: removes HhK counts at a time, so total
          // decrement work is <= partN — amortized linear
          val e = m.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue <= 1L) e.remove() else kv.setValue(kv.getValue - 1L)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]
      m.keySet().forEach(k => out += ((k, 0L, false)))
      out += (("", total, true))
      out.iterator
    }.toDF("token", "cnt", "is_tally")
  }

  def t23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select(explode(Text.tokens($"text")).as("token"))
    val mg = mgSummaries(tok.as[String]).localCheckpoint(true)
    // bounded: <= HhK x partitions candidate rows + 1 tally row/partition
    val nDf = mg.filter($"is_tally").agg(sum($"cnt").as("n"))
    val cand = mg.filter(!$"is_tally").select($"token").distinct()
    tok.join(Hints.maybeBroadcast(cand), "token")
      .groupBy($"token").agg(count(lit(1)).cast("long").as("c"))
      .crossJoin(broadcast(nDf))
      .filter($"c" * HhK > $"n")
      .select($"token", $"c")
  }

  val t23Sql: String = s"""
    WITH tok AS (SELECT unnest(${TextSql.toks}) AS token FROM documents),
    n AS (SELECT count(*) AS n FROM tok)
    SELECT token, CAST(count(*) AS BIGINT) AS c
    FROM tok CROSS JOIN n
    GROUP BY token, n.n
    HAVING count(*) * $HhK > n.n"""

  val queries: Map[String, Q] = Map(
    "t23_heavy_hitters" -> t23,
    "t22_quality_buckets" -> t22,
    "t21_contamination" -> t21,
    "t13_bigram_fluency" -> t13, "t14_quality_gate" -> t14,
    "t15_sequence_packing" -> t15, "t16_bpe_merges" -> t16,
    "t17_epoch_shuffle" -> t17, "t18_bpe_encode" -> t18,
    "t19_doc_chunking" -> t19, "t20_mixture_sample" -> t20,
    "t1_token_count" -> t1, "t2_quality_score" -> t2, "t3_lang_id" -> t3,
    "t4_fingerprint" -> t4, "t5_shingles" -> t5, "t6_word_freq" -> t6,
    "t7_bpe_tokens" -> t7, "t8_tfidf" -> t8, "t9_train_split" -> t9,
    "t10_repetition" -> t10, "t11_pii_scrub" -> t11, "t12_rare_words" -> t12)

  val oracles: Map[String, String] = Map(
    "t23_heavy_hitters" -> t23Sql,
    "t22_quality_buckets" -> t22Sql,
    "t21_contamination" -> t21Sql,
    "t13_bigram_fluency" -> t13Sql, "t14_quality_gate" -> t14Sql,
    "t15_sequence_packing" -> t15Sql, "t16_bpe_merges" -> t16Sql,
    "t17_epoch_shuffle" -> t17Sql, "t18_bpe_encode" -> t18Sql,
    "t19_doc_chunking" -> t19Sql, "t20_mixture_sample" -> t20Sql,
    "t1_token_count" -> t1Sql, "t2_quality_score" -> t2Sql,
    "t3_lang_id" -> t3Sql, "t4_fingerprint" -> t4Sql,
    "t5_shingles" -> t5Sql, "t6_word_freq" -> t6Sql,
    "t7_bpe_tokens" -> t7Sql, "t8_tfidf" -> t8Sql, "t9_train_split" -> t9Sql,
    "t10_repetition" -> t10Sql, "t11_pii_scrub" -> t11Sql,
    "t12_rare_words" -> t12Sql)
}
