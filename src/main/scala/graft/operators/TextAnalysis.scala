package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.QueryDef.sqlChecked
import graft.functions.Exprs

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting. All are pure per-row `Column` expressions —
  * embarrassingly parallel, no shuffle except the final presentation sort,
  * fully inside whole-stage codegen. At 100 TB these run at scan speed.
  */
object TextAnalysis {

  private[operators] val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Bloom sizing for ta_decontam_bloom: 2^20 bits (128 KiB as 16384
    * longs) × 3 probes. At the benchmark-gram counts of the test SFs
    * (~1–10 k distinct 8-grams) the fill stays ≲ 3%, per-gram FPR ≲ 3e-5;
    * a real deployment re-derives m from n·k/ln 2 for its benchmark size.
    * Declared here (not inside `defs`) so BloomSpec can reuse them.
    */
  val BloomBits = 1 << 20
  val BloomProbes = 3

  /** Count-min sizing for ta_cms_heavy: 4 rows × 4096 counters (128 KiB).
    * Overcount bound ≈ e·N/width per estimate; the query gates at the
    * cleaner integer 3·N/width. Exposed for CountMinSpec.
    */
  val CmsWidth = 4096
  val CmsDepth = 4
  val CmsTopK = 20

  /** ta_bigram_lm: bigrams below this corpus count stay OUT of the model
    * (the unigram interpolation term alone scores them) — the cap that
    * keeps the model zipf-small instead of O(vocab²).
    */
  val BigramMinCount = 2

  /** ta_seq_pack's hash-shard count: each shard packs its docs in doc_id
    * order, so the count decides the pack layout (Spark and oracle share it).
    */
  val PackShards = 8

  /** DuckDB fragment for the normWords tokenization (same text as every
    * inline occurrence above; shared by the newer oracles).
    */
  private[operators] val toksSqlFrag =
    """list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
      |                  w -> w <> '')""".stripMargin

  /** Committed trigram profile dir (absolute so the DuckDB oracle reads the
    * same model; override with GRAFT_LANGID_DIR).
    */
  private val langidDir =
    graft.Fixtures.dir("langid", "GRAFT_LANGID_DIR")
  private val LangIdProfileGlob = s"$langidDir/profile.parquet/*.parquet"

  /** Trigram language detector over (doc_id, lang, text) rows — the scoring
    * half of ta_langid, reusable so LangIdSpec can run it on planted
    * held-out sentences. Integer NLL sums (see [[LangIdProfileGen]]); the
    * profile broadcasts; per-doc rollup is the only shuffle.
    */
  def detectLang(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    detectLangFromTrigrams(s,
      docs.select($"doc_id", $"lang".as("lang_declared"),
        explode_outer(Exprs.packedTrigrams($"text")).as("tg")))
  }

  /** Scoring half of [[detectLang]] over pre-derived packed trigrams
    * (doc_id, lang_declared, tg — tg null for trigram-less docs), so a
    * pipeline that MATERIALIZED the trigram column (ta_pipeline_e2e's
    * curation intermediate) scores without re-touching text.
    */
  def detectLangFromTrigrams(s: org.apache.spark.sql.SparkSession,
      tg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val profile = s.read.parquet(s"$langidDir/profile.parquet")
    val prof = profile.filter($"trigram" =!= "__OOV__")
    val oov = profile.filter($"trigram" === "__OOV__")
      .select($"w_en".as("o_en"), $"w_fr".as("o_fr"),
        $"w_de".as("o_de"), $"w_es".as("o_es"))
    // Trigrams as PACKED INTS ([[graft.functions.PackedTrigrams]]): the
    // normalization + substring chain collapses to one byte scan, and the
    // broadcast join keys on a 4-byte int instead of a 3-char string. The
    // profile side is re-keyed with the same (injective on [a-z ]³)
    // packing, so join semantics are identical to the string form — which
    // is what the DuckDB oracle still runs.
    val profKey = {
      def code(i: Int) = {
        val a = ascii(substring($"trigram", i, 1))
        when(a === 32, 0).otherwise(a - 96)
      }
      (code(1) * 1024 + code(2) * 32 + code(3)).cast("int")
    }
    val profKeyed = prof.withColumn("tkey", profKey)
    tg.join(broadcast(profKeyed), tg("tg") === profKeyed("tkey"), "left")
      .crossJoin(broadcast(oov))
      .groupBy($"doc_id", $"lang_declared")
      .agg(
        sum(when($"tg".isNull, 0L).otherwise(coalesce($"w_en", $"o_en"))).as("s_en"),
        sum(when($"tg".isNull, 0L).otherwise(coalesce($"w_fr", $"o_fr"))).as("s_fr"),
        sum(when($"tg".isNull, 0L).otherwise(coalesce($"w_de", $"o_de"))).as("s_de"),
        sum(when($"tg".isNull, 0L).otherwise(coalesce($"w_es", $"o_es"))).as("s_es"),
        sum(when($"tg".isNull, 0L).otherwise(1L)).as("n_tg"))
      .withColumn("lang_detected",
        when($"n_tg" === 0, "und")
          .when($"s_en" <= $"s_fr" && $"s_en" <= $"s_de" && $"s_en" <= $"s_es", "en")
          .when($"s_fr" <= $"s_de" && $"s_fr" <= $"s_es", "fr")
          .when($"s_de" <= $"s_es", "de")
          .otherwise("es"))
      .select($"doc_id", $"lang_declared", $"lang_detected",
        $"s_en", $"s_fr", $"s_de", $"s_es", $"n_tg")
  }

  /** Write-once-per-(dir, JVM) CURATION INTERMEDIATE — the "long-lived
    * pipeline" form of the corpus scan: ONE pass over `documents` computes
    * the normalized token array, the fused TextStats counters, and the
    * packed language trigrams, and materializes them to parquet. Every
    * ta_pipeline_e2e stage then reads this table (column-pruned) instead of
    * re-tokenizing the corpus — at 100 TB this is the real topology: text
    * is touched once, stages consume stored features. The dir is removed
    * on JVM exit.
    */
  def curationIntermediate(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.Scratch.memoDir("graft-curation-ti", dir) { p =>
      graft.ColdBuilds.timed("ta_curation_intermediate", dir) {
        import s.implicits._
        val st = Exprs.textStats($"text")
        Tables.documents(s, dir)
          .select(
            $"doc_id",
            Exprs.normWords($"text").as("toks"),
            st.getField("char_len").as("char_len"),
            st.getField("n_tokens").as("n_tokens"),
            st.getField("n_punct").as("n_punct"),
            st.getField("n_stop").as("n_stop"),
            Exprs.packedTrigrams($"text").as("tgs"))
          .write.mode("overwrite").parquet(p)
      }
    }

  val defs: Seq[QueryDef] = Seq(

    // Token + char counts (whitespace tokenizer, empty tokens dropped).
    sqlChecked(
      "ta_tokens",
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |     w -> w <> '')) AS n_tokens,
        | length(text) AS char_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select(
          $"doc_id",
          size(Exprs.normWords($"text")).cast("long").as("n_tokens"),
          length($"text").cast("long").as("char_len"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Quality scoring: punctuation ratio, stopword ratio, length saturation.
    sqlChecked(
      "ta_quality",
      """SELECT doc_id, char_len, n_tokens, punct_ratio, stop_ratio,
        | round(0.4 * (1.0 - punct_ratio) + 0.3 * stop_ratio
        |       + 0.3 * least(1.0, n_tokens / 100.0), 6) AS quality
        |FROM (
        |  SELECT doc_id, length(text) AS char_len,
        |   len(toks) AS n_tokens,
        |   CASE WHEN length(text) = 0 THEN 0.0
        |        ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
        |                   / CAST(length(text) AS DOUBLE), 6) END AS punct_ratio,
        |   CASE WHEN len(toks) = 0 THEN 0.0
        |        ELSE round(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it')))
        |                   / CAST(len(toks) AS DOUBLE), 6) END AS stop_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                      w -> w <> '') AS toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // One fused scan per doc (TextStats) — the composed regexp_replace +
      // interpreted HOF-filter formulation was the sf1-convicted per-row
      // cost (BASELINE.md round 9: 20.5× DuckDB, gap growing with data).
      qualityScores(s, Tables.documents(s, dir))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Language ID: character-trigram log-likelihood scoring against the
    // committed per-language profiles (fixtures/langid, built by
    // [[LangIdProfileGen]] from embedded training corpora — CLD-style n-gram
    // text categorization, Cavnar & Trenkle 1994). Weights are INTEGER
    // scaled negative log-probs, so both engines' score sums are exact and
    // order-independent; min-NLL wins with deterministic tie order
    // en > fr > de > es; no trigrams → 'und'.
    //
    // Scale: the profile (a few thousand rows) broadcasts; the trigram
    // explosion stays inside the scan stage; the only shuffle is the
    // per-doc partial-aggregated score rollup keyed on doc_id.
    sqlChecked(
      "ta_langid",
      s"""WITH docs AS (
         |  SELECT doc_id, lang AS lang_declared,
         |         trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS norm
         |  FROM documents),
         |tg AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, length(norm) - 1),
         |                i -> substr(norm, CAST(i AS INTEGER), 3))) AS tg
         |  FROM docs WHERE length(norm) >= 3),
         |prof AS (SELECT * FROM read_parquet('$LangIdProfileGlob') WHERE trigram <> '__OOV__'),
         |oov AS (SELECT w_en AS o_en, w_fr AS o_fr, w_de AS o_de, w_es AS o_es
         |        FROM read_parquet('$LangIdProfileGlob') WHERE trigram = '__OOV__'),
         |scores AS (
         |  SELECT doc_id,
         |    CAST(sum(coalesce(w_en, o_en)) AS BIGINT) AS s_en,
         |    CAST(sum(coalesce(w_fr, o_fr)) AS BIGINT) AS s_fr,
         |    CAST(sum(coalesce(w_de, o_de)) AS BIGINT) AS s_de,
         |    CAST(sum(coalesce(w_es, o_es)) AS BIGINT) AS s_es,
         |    count(*) AS n_tg
         |  FROM tg LEFT JOIN prof ON tg.tg = prof.trigram CROSS JOIN oov
         |  GROUP BY doc_id)
         |SELECT d.doc_id, d.lang_declared,
         |  CASE WHEN s.n_tg IS NULL THEN 'und'
         |       WHEN s_en <= s_fr AND s_en <= s_de AND s_en <= s_es THEN 'en'
         |       WHEN s_fr <= s_de AND s_fr <= s_es THEN 'fr'
         |       WHEN s_de <= s_es THEN 'de' ELSE 'es' END AS lang_detected,
         |  coalesce(s_en, 0) AS s_en, coalesce(s_fr, 0) AS s_fr,
         |  coalesce(s_de, 0) AS s_de, coalesce(s_es, 0) AS s_es,
         |  coalesce(n_tg, 0) AS n_tg
         |FROM docs d LEFT JOIN scores s USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      detectLang(s, Tables.documents(s, dir))
        .transform(d => graft.QueryDef.largeSort(d, col("doc_id")))
    },

    // Canonical-form content fingerprint (128-bit md5 of normalized text).
    // At scale this is THE dedup key: 16 bytes shuffle instead of documents.
    sqlChecked(
      "ta_fingerprint",
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", Exprs.fingerprint($"text").as("fp"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // The composed curation flow a training-data pipeline actually runs:
    // score → quality gate (>= 0.6) + token floor (>= 20) → exact-dedup
    // keep-first. One scan computes everything per-row; the only shuffle is
    // the fingerprint window (16-byte key, not text). At 100 TB this is the
    // canonical "clean the crawl" plan shape.
    sqlChecked(
      "ta_curation",
      """SELECT doc_id, n_tokens, quality FROM (
        |  SELECT doc_id, n_tokens, quality,
        |    min(doc_id) OVER (PARTITION BY fp) AS keep_id
        |  FROM (
        |    SELECT doc_id,
        |      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |      len(toks) AS n_tokens,
        |      round(0.4 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |          ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
        |                     / CAST(length(text) AS DOUBLE), 6) END)
        |        + 0.3 * CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE round(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it')))
        |                     / CAST(len(toks) AS DOUBLE), 6) END
        |        + 0.3 * least(1.0, len(toks) / 100.0), 6) AS quality
        |    FROM (SELECT doc_id, text,
        |            list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                        w -> w <> '') AS toks
        |          FROM documents)))
        |WHERE quality >= 0.6 AND n_tokens >= 20 AND doc_id = keep_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Same fused TextStats scan as ta_quality (shared conviction, shared fix).
      val st = Exprs.textStats($"text")
      val charLen = st.getField("char_len")
      val nTokens = st.getField("n_tokens")
      val punctRatio = when(charLen === 0, 0.0).otherwise(
        round(st.getField("n_punct").cast("double") / charLen.cast("double"), 6))
      val stopRatio = when(nTokens === 0, 0.0).otherwise(
        round(st.getField("n_stop").cast("double") / nTokens.cast("double"), 6))
      val quality = round(lit(0.4) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio
        + lit(0.3) * least(lit(1.0), nTokens / lit(100.0)), 6)
      Tables.documents(s, dir)
        .select($"doc_id", Exprs.fingerprint($"text").as("fp"),
          nTokens.as("n_tokens"), quality.as("quality"))
        .withColumn("keep_id", min($"doc_id").over(Window.partitionBy($"fp")))
        .filter($"quality" >= 0.6 && $"n_tokens" >= 20 && $"doc_id" === $"keep_id")
        .select($"doc_id", $"n_tokens", $"quality")
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // BPE-ish token counting: a GPT-2-style pre-tokenizer regex (apostrophe
    // suffixes, space-prefixed letter runs, digit runs, punctuation runs) —
    // the cheap per-row estimator a data pipeline uses to budget sequence
    // lengths BEFORE paying for a real tokenizer pass. Reported next to the
    // whitespace count with their ratio (subword inflation ≈ tokens/word).
    sqlChecked(
      "ta_bpe_tokens",
      """SELECT doc_id, ws_tokens, bpe_tokens,
        | CASE WHEN ws_tokens = 0 THEN 0.0
        |      ELSE round(bpe_tokens / CAST(ws_tokens AS DOUBLE), 6) END AS inflation
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |        w -> w <> '')) AS ws_tokens,
        |    len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+')) AS bpe_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bpePat = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"
      Tables.documents(s, dir)
        .select($"doc_id",
          size(Exprs.normWords($"text")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(lower($"text"), lit(bpePat), lit(0)))
            .cast("long").as("bpe_tokens"))
        .withColumn("inflation",
          when($"ws_tokens" === 0, 0.0).otherwise(
            round($"bpe_tokens".cast("double") / $"ws_tokens".cast("double"), 6)))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Gopher-style rule-based document filter (Rae et al. 2021 §A1.1, the
    // published heuristic family): per-doc structural metrics, one boolean
    // per rule, and the conjunction. English-centric stopword rule by
    // design, like the original. Pure per-row expression work — at 100 TB
    // this runs at scan speed with the keep flag pushed into the next
    // stage's filter.
    sqlChecked(
      "ta_gopher_rules",
      """SELECT doc_id, n_words, mean_word_len, distinct_ratio, n_stop,
        | (n_words >= 20 AND n_words <= 100000) AS ok_len,
        | (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
        | (distinct_ratio >= 0.3) AS ok_repetition,
        | (n_stop >= 2) AS ok_stopwords,
        | (n_words >= 20 AND n_words <= 100000
        |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |  AND distinct_ratio >= 0.3 AND n_stop >= 2) AS keep
        |FROM (
        |  SELECT doc_id, len(toks) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE round(length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE), 6) END AS mean_word_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) END AS distinct_ratio,
        |    len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it'))) AS n_stop
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                      w -> w <> '') AS toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      gopherFlags(s, Tables.documents(s, dir))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Hashed-feature linear quality classifier (the fastText-style scoring
    // pass of CCNet/RefinedWeb pipelines, Joulin et al. 2016): DISTILL the
    // Gopher rule conjunction above into a 1024-bucket Naive-Bayes
    // log-odds model over hashed unigrams (Laplace-smoothed, the
    // closed-form training fastText's logistic loss approximates), then
    // score every document as prior + Σ bucket log-odds. Weights are
    // quantized to integer micro-log-odds at the MODEL (1024 rows), so doc
    // scores are exact integer sums — order-independent, hence
    // bit-identical across engines and partitionings (same discipline as
    // ta_langid's integer NLL). Scale: train = one bucket-keyed aggregate
    // whose result is 1024 rows; score = broadcast-join + per-doc rollup;
    // the corpus shuffles only 8-byte (doc_id, w_micro) pairs. The three
    // scans of `documents` (label+model, score, spine) would share one
    // persisted tokenized intermediate in a long-lived pipeline.
    sqlChecked(
      "ta_classifier_score",
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSqlFrag AS toks FROM documents),
         |lab AS (
         |  SELECT doc_id, toks,
         |    (len(toks) >= 20 AND len(toks) <= 100000
         |     AND (CASE WHEN len(toks) = 0 THEN 0.0
         |          ELSE round(length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE), 6) END) >= 3.0
         |     AND (CASE WHEN len(toks) = 0 THEN 0.0
         |          ELSE round(length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE), 6) END) <= 10.0
         |     AND (CASE WHEN len(toks) = 0 THEN 0.0
         |          ELSE round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) END) >= 0.3
         |     AND len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it'))) >= 2) AS label
         |  FROM toks),
         |wb AS (
         |  SELECT doc_id, label,
         |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
         |  FROM (SELECT doc_id, label, unnest(toks) AS word FROM lab)),
         |m AS (
         |  SELECT bucket,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS cpos,
         |    SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS cneg
         |  FROM wb GROUP BY bucket),
         |tot AS (SELECT SUM(cpos) AS p, SUM(cneg) AS n FROM m),
         |dtot AS (SELECT SUM(CASE WHEN label THEN 1 ELSE 0 END) AS dpos,
         |                SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS dneg FROM lab),
         |w AS (SELECT bucket,
         |        CAST(round((ln((cpos + 1.0) / (p + 1024.0)) - ln((cneg + 1.0) / (n + 1024.0))) * 1000000) AS BIGINT) AS w_micro
         |      FROM m CROSS JOIN tot),
         |bias AS (SELECT CAST(round(ln((dpos + 1.0) / (dneg + 1.0)) * 1000000) AS BIGINT) AS b FROM dtot),
         |scored AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w_micro) AS BIGINT) AS sw
         |           FROM wb JOIN w USING (bucket) GROUP BY doc_id),
         |fs AS (SELECT l.doc_id,
         |           COALESCE(n_tokens, 0) AS n_tokens,
         |           (SELECT b FROM bias) + COALESCE(sw, 0) AS score_micro,
         |           label
         |         FROM lab l LEFT JOIN scored USING (doc_id)),
         |tau AS (SELECT (avg(CASE WHEN label THEN score_micro END)
         |              + avg(CASE WHEN NOT label THEN score_micro END)) / 2 AS t FROM fs)
         |SELECT doc_id, n_tokens, score_micro,
         |  score_micro > (SELECT t FROM tau) AS pred, label
         |FROM fs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = Exprs.normWords($"text")
      val nWords = size(toks).cast("long")
      val meanWordLen = when(nWords === 0, 0.0).otherwise(
        round(length(concat_ws("", toks)).cast("double") / nWords.cast("double"), 6))
      val distinctRatio = when(nWords === 0, 0.0).otherwise(
        round(size(array_distinct(toks)).cast("double") / nWords.cast("double"), 6))
      val nStop = size(filter(toks, w => w.isin(stopEn: _*))).cast("long")
      val label = nWords >= 20 && nWords <= 100000 &&
        meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
        distinctRatio >= 0.3 && nStop >= 2
      val labeled = Tables.documents(s, dir)
        .select($"doc_id", label.as("label"), toks.as("toks"))
      // two-tier cache so the corpus is tokenized + exploded exactly ONCE:
      // wb (the word explode) feeds the model aggregate AND the scoring
      // join; docLabels (doc-level, 2 columns — tiny) feeds the class
      // counts AND the final left join. Without these the plan re-ran the
      // explode up to 4× (the ta_collocations multi-consumer lesson).
      val wb = labeled
        .select($"doc_id", $"label", explode($"toks").as("word"))
        .withColumn("bucket",
          conv(substring(md5($"word"), 1, 8), 16, 10).cast("long") % 1024)
        .cache()
      val docLabels = labeled.select($"doc_id", $"label").cache()
      val model = wb.groupBy($"bucket").agg(
        sum(when($"label", 1L).otherwise(0L)).as("cpos"),
        sum(when(!$"label", 1L).otherwise(0L)).as("cneg"))
      // model-sized driver fetches (1024-row totals + 2 doc counts), the
      // documented k-means/unigram pattern — never corpus-sized
      val t = model.agg(
        sum($"cpos").as("p"), sum($"cneg").as("n")).collect().head
      val (p, n) = (t.getLong(0), t.getLong(1))
      val dt = docLabels.agg(
        sum(when($"label", 1L).otherwise(0L)),
        sum(when(!$"label", 1L).otherwise(0L))).collect().head
      val (dpos, dneg) = (dt.getLong(0), dt.getLong(1))
      // HALF_UP like both engines' round(); Math.round would round -x.5 up
      val bias = BigDecimal(math.log((dpos + 1.0) / (dneg + 1.0)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val weights = model.select($"bucket",
        round((log(($"cpos" + 1.0) / (p + 1024.0)) - log(($"cneg" + 1.0) / (n + 1024.0))) * 1e6)
          .cast("long").as("w_micro"))
      val scored = wb.join(broadcast(weights), Seq("bucket"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"w_micro").as("sw"))
      val full = docLabels
        .join(scored, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_tokens", lit(0L)).as("n_tokens"),
          (lit(bias) + coalesce($"sw", lit(0L))).as("score_micro"),
          $"label")
        .persist()
      // calibrated decision threshold = midpoint of the class-conditional
      // mean scores (the NB sum has a positive drift: smoothing makes
      // zero-cneg buckets common when the negative corpus is the smaller
      // one, so raw sign predicts all-positive). Both means are exact
      // integer sums / counts — the double division is deterministic. One
      // more 1-row driver fetch — it materializes the persisted `full`
      // (doc-level, 4 columns), so the returned frame reads the cache.
      val tau = full.agg(
        ((avg(when($"label", $"score_micro")) + avg(when(!$"label", $"score_micro"))) / 2)
          .as("t")).collect().head.getDouble(0)
      // full is materialized; the upstream caches can go
      wb.unpersist()
      docLabels.unpersist()
      full.select($"doc_id", $"n_tokens", $"score_micro",
          ($"score_micro" > tau).as("pred"), $"label")
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Unigram LM scoring (the CCNet-style quality signal): build the word
    // distribution FROM the corpus itself (one aggregate), then score every
    // document by its mean negative log-probability — low = typical text,
    // high = outlier/noise. Two passes: the vocab aggregate (zipf-small →
    // broadcast), then a scan that joins each doc's words against it — the
    // vocabulary never shuffles the corpus. Deterministic end-to-end
    // (exact counts, ln of identical doubles, rounded), so oracle-checked.
    sqlChecked(
      "ta_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                w -> w <> '') AS w
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(w) AS word FROM toks),
        |vocab AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        |total AS (SELECT sum(c) AS t FROM vocab)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(-ln(vocab.c / (SELECT t FROM total))), 4) AS mean_neg_logprob
        |FROM words JOIN vocab USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select($"doc_id", explode(Exprs.normWords($"text")).as("word"))
      val vocab = words.groupBy($"word").agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum($"c")).collect().head.getLong(0)
      words
        .join(broadcast(vocab), Seq("word"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(avg(-log($"c".cast("double") / total.toDouble)), 4).as("mean_neg_logprob"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // CCNet perplexity bucketing (Wenzek et al. 2020 §3): score every
    // document with a PER-LANGUAGE unigram LM (the corpus-derived analog of
    // CCNet's per-language KenLM), then split each language at its own 0.3
    // and 0.7 exact score quantiles into head / middle / tail buckets —
    // the partition CCNet publishes and trainers sample from. Thresholds
    // are per-language because score distributions are not comparable
    // across languages (CCNet's core observation). Deterministic: exact
    // counts, ln of identical doubles, avg rounded at 4dp (the
    // ta_unigram_logprob discipline), quantile_cont ≡ Spark percentile
    // (the q32-pinned semantics). Scale: the (lang, word) vocab is
    // zipf-small and broadcasts; per-lang totals and thresholds are
    // lang-cardinality-sized; the corpus shuffles only per-doc partial
    // aggregates — at 100 TB the exact percentile becomes
    // approx_percentile + the q20-style exact bracket refinement.
    sqlChecked(
      "ta_ccnet_buckets",
      s"""WITH toks AS (SELECT doc_id, lang, $toksSqlFrag AS toks FROM documents),
         |words AS (SELECT doc_id, lang, unnest(toks) AS word FROM toks),
         |vocab AS (SELECT lang, word, count(*) AS c FROM words GROUP BY lang, word),
         |tot AS (SELECT lang, sum(c) AS t FROM vocab GROUP BY lang),
         |scored AS (
         |  SELECT doc_id, lang, count(*) AS n_words,
         |    round(avg(-ln(c / t)), 4) AS score
         |  FROM words JOIN vocab USING (lang, word) JOIN tot USING (lang)
         |  GROUP BY doc_id, lang),
         |th AS (SELECT lang, round(quantile_cont(score, 0.3), 6) AS t30,
         |              round(quantile_cont(score, 0.7), 6) AS t70
         |       FROM scored GROUP BY lang)
         |SELECT doc_id, lang, n_words, score,
         |  CASE WHEN score <= t30 THEN 'head'
         |       WHEN score <= t70 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM scored JOIN th USING (lang)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select($"doc_id", $"lang", explode(Exprs.normWords($"text")).as("word"))
      val vocab = words.groupBy($"lang", $"word").agg(count(lit(1)).as("c"))
      val tot = vocab.groupBy($"lang").agg(sum($"c").as("t"))
      val scored = words
        .join(broadcast(vocab), Seq("lang", "word"))
        .join(broadcast(tot), Seq("lang"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_words"),
          round(avg(-log($"c".cast("double") / $"t".cast("double"))), 4).as("score"))
      val th = scored.groupBy($"lang").agg(
        round(expr("percentile(score, 0.3)"), 6).as("t30"),
        round(expr("percentile(score, 0.7)"), 6).as("t70"))
      scored.join(broadcast(th), Seq("lang"))
        .select($"doc_id", $"lang", $"n_words", $"score",
          when($"score" <= $"t30", "head")
            .when($"score" <= $"t70", "middle").otherwise("tail").as("bucket"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // PII-style scrubbing: redact URLs then emails with typed placeholders,
    // count each. The testdata contains neither, so the input is a DERIVED
    // VIEW planting a deterministic contact line on every 7th document —
    // mirrored exactly in the oracle — so the check is non-vacuous (the
    // round-1 lesson: a transform verified on rows it never fires on is
    // verified by nothing). Output carries md5(scrubbed), not the text:
    // exact content equality without dumping documents.
    sqlChecked(
      "ta_scrub",
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or https://example.org/doc/' || CAST(doc_id AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |    regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS scrubbed
        |  FROM d)
        |SELECT doc_id, n_urls, n_emails, length(scrubbed) AS scrubbed_len,
        |  md5(scrubbed) AS scrub_fp
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val urlRe = "https?://[^\\s]+"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val planted = when($"doc_id" % 7 === 0,
        concat($"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com or https://example.org/doc/"), $"doc_id".cast("string")))
        .otherwise($"text")
      Tables.documents(s, dir)
        .select($"doc_id", planted.as("text"))
        .select($"doc_id",
          size(regexp_extract_all($"text", lit(urlRe), lit(0))).cast("long").as("n_urls"),
          size(regexp_extract_all($"text", lit(emailRe), lit(0))).cast("long").as("n_emails"),
          regexp_replace(regexp_replace($"text", urlRe, "<URL>"), emailRe, "<EMAIL>")
            .as("scrubbed"))
        .select($"doc_id", $"n_urls", $"n_emails",
          length($"scrubbed").cast("long").as("scrubbed_len"),
          md5($"scrubbed").as("scrub_fp"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Benchmark decontamination — the pre-training hygiene step that keeps
    // eval data out of the training set: any training doc sharing a word
    // 8-gram with the benchmark set is flagged (the n-gram-overlap
    // technique used for public-benchmark contamination audits). The
    // "benchmark" here is the deterministic doc_id % 97 == 0 slice standing
    // in for an eval suite; because the synthetic corpus happens to share
    // no natural 8-grams with that slice, a canary phrase is planted into
    // the benchmark docs AND into the doc_id % 31 == 5 "leaked" docs (in
    // BOTH engines) so the check is non-vacuous — exactly how canary
    // strings are used to audit real pipelines. Scale: the benchmark gram
    // set is small by construction — it BROADCASTS; the corpus side
    // explodes grams in-stage and partial-aggregates per doc; the corpus
    // never shuffles its text.
    sqlChecked(
      "ta_decontam",
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 5
        |         THEN text || ' graftbench canary alpha beta gamma delta epsilon zeta'
        |         ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                w -> w <> '') AS w
        |  FROM planted),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(w)-7),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |             w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
        |    FROM toks WHERE len(w) >= 8)),
        |shh AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(shingle),1,15)) AS BIGINT) AS h
        |  FROM sh),
        |bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hits
        |  FROM shh JOIN bench USING (h)
        |  WHERE doc_id % 97 <> 0
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
        |  coalesce(n_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits USING (doc_id)
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Tables.documents(s, dir)
        .select($"doc_id",
          when($"doc_id" % 97 === 0 || $"doc_id" % 31 === 5,
            concat($"text",
              lit(" graftbench canary alpha beta gamma delta epsilon zeta")))
            .otherwise($"text").as("text"))
      // 16-byte-hash keys, never 8-gram text, cross the broadcast (hashing
      // AFTER the per-doc distinct in both engines — same collision
      // semantics as dd_ngram_jaccard's keying)
      val sh = Dedup.docShinglesOf(s, planted, 8)
        .select($"doc_id", Exprs.hash60($"shingle").as("h"))
      val bench = sh.filter($"doc_id" % 97 === 0).select($"h").distinct()
      val hits = sh.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(bench), "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"))
      Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" % 97 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_hits", lit(0L)).as("n_hits"))
        .withColumn("contaminated", $"n_hits" >= 1)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Benchmark decontamination through a BLOOM-FILTER prefilter — the
    // cross-corpus membership shape ta_decontam's broadcast-the-exact-set
    // form doesn't scale to: the benchmark gram set is folded into ONE
    // fixed-size bit array ([[graft.functions.BloomAgg]], 2^20 bits × 3
    // Kirsch–Mitzenmacher probes — merge = bitwise OR, so the build is a
    // single all-reduce and partitioning-independent), the bloom
    // broadcasts at 128 KiB regardless of benchmark size, and the corpus
    // side tests each gram hash with pure integer bit arithmetic in-stage.
    // Only bloom CANDIDATES reach the exact-verification join, so false
    // positives cost a bounded re-check and false negatives are impossible
    // by construction; the output reports both counts per doc
    // (n_cand ≥ n_hits, the gap = the measured FP cost). Same planted
    // canary/leak construction as ta_decontam. The probe positions are
    // exact small-long arithmetic, so the oracle replays every set bit in
    // BIGINT SQL: candidate ⇔ all 3 positions land in the benchmark's
    // position set — literally the bloom's set-bit union.
    sqlChecked(
      "ta_decontam_bloom",
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 5
         |         THEN text || ' graftbench canary alpha beta gamma delta epsilon zeta'
         |         ELSE text END AS text
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
         |                w -> w <> '') AS w
         |  FROM planted),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(w)-7),
         |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |             w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
         |    FROM toks WHERE len(w) >= 8)),
         |shh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle),1,15)) AS BIGINT) AS h
         |  FROM sh),
         |bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 97 = 0),
         |idx AS (SELECT unnest(generate_series(0, ${BloomProbes - 1})) AS i),
         |bpos AS (SELECT DISTINCT ${graft.functions.BloomAgg.positionsSql("h", "i", BloomBits)} AS p
         |         FROM bench CROSS JOIN idx),
         |probes AS (
         |  SELECT doc_id, h, ${graft.functions.BloomAgg.positionsSql("h", "i", BloomBits)} AS p
         |  FROM shh CROSS JOIN idx WHERE doc_id % 97 <> 0),
         |nset AS (SELECT doc_id, h, count(*) AS ns FROM probes JOIN bpos USING (p) GROUP BY doc_id, h),
         |cand AS (SELECT doc_id, h FROM nset WHERE ns = $BloomProbes),
         |roll AS (
         |  SELECT c.doc_id, count(*) AS n_cand, count(b.h) AS n_hits
         |  FROM cand c LEFT JOIN bench b ON c.h = b.h
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id, coalesce(n_cand, 0) AS n_cand, coalesce(n_hits, 0) AS n_hits,
         |  coalesce(n_cand, 0) >= 1 AS bloom_flag, coalesce(n_hits, 0) >= 1 AS contaminated
         |FROM documents d LEFT JOIN roll USING (doc_id)
         |WHERE d.doc_id % 97 <> 0
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Tables.documents(s, dir)
        .select($"doc_id",
          when($"doc_id" % 97 === 0 || $"doc_id" % 31 === 5,
            concat($"text",
              lit(" graftbench canary alpha beta gamma delta epsilon zeta")))
            .otherwise($"text").as("text"))
      val sh = Dedup.docShinglesOf(s, planted, 8)
        .select($"doc_id", Exprs.hash60($"shingle").as("h"))
      // bloom build: insertion is idempotent, so no distinct is needed
      // before the fold (cheaper than the exact set, which must distinct)
      val bloom = sh.filter($"doc_id" % 97 === 0)
        .agg(graft.functions.BloomAgg($"h", BloomBits, BloomProbes).as("bits"))
      val bench = sh.filter($"doc_id" % 97 === 0).select($"h").distinct()
      // candidates: per-gram bit test against the broadcast 1-row bloom —
      // integer expression work in the scan stage, no corpus shuffle
      val cand = sh.filter($"doc_id" % 97 =!= 0)
        .crossJoin(broadcast(bloom))
        .filter(graft.functions.BloomAgg.mightContain("bits", "h", BloomBits, BloomProbes))
        .select($"doc_id", $"h")
      // exact verification touches ONLY candidates (at 100 TB this join —
      // not the corpus scan — is what the bloom bounds); one pass computes
      // both rollups
      val roll = cand
        .join(broadcast(bench.withColumn("known", lit(true))), Seq("h"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_cand"), count($"known").as("n_hits"))
      Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" % 97 =!= 0)
        .join(roll, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_cand", lit(0L)).as("n_cand"),
          coalesce($"n_hits", lit(0L)).as("n_hits"))
        .withColumn("bloom_flag", $"n_cand" >= 1)
        .withColumn("contaminated", $"n_hits" >= 1)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Heavy hitters through a COUNT-MIN SKETCH
    // ([[graft.functions.CountMinAgg]]) — the frequency twin of the bloom
    // membership structure: the word-frequency state is a FIXED 4×4096
    // counter grid (128 KiB) built in one pass (merge = element-wise add,
    // one all-reduce, partitioning-independent) instead of the
    // vocabulary-sized exact count table. Estimates never undercount; the
    // overcount is gated per word at the integer bound 3·N/width, the
    // q20_sketch_stats discipline: the sketch answers, the exact companion
    // (here the true top-20) is the oracle's ground truth, and the
    // tolerance booleans are pinned TRUE by the oracle. Deterministic
    // end-to-end (hash60 keys, Kirsch–Mitzenmacher rows, integer
    // counters), so the oracle replays the ENTIRE grid and every estimate
    // in BIGINT SQL.
    sqlChecked(
      "ta_cms_heavy",
      s"""WITH words AS (
         |  SELECT unnest(toks) AS word
         |  FROM (SELECT $toksSqlFrag AS toks FROM documents)),
         |wh AS (SELECT word, CAST(('0x' || substr(md5(word),1,15)) AS BIGINT) AS h FROM words),
         |idx AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS i),
         |cnt AS (
         |  SELECT i, pos AS p, COUNT(*) AS c FROM (
         |    SELECT i, ${graft.functions.CountMinAgg.positionSql("h", "i", CmsWidth)} AS pos
         |    FROM wh CROSS JOIN idx)
         |  GROUP BY i, pos),
         |vocab AS (SELECT word, COUNT(*) AS true_cnt FROM words GROUP BY word),
         |tot AS (SELECT SUM(true_cnt) AS n FROM vocab),
         |top AS (SELECT word, true_cnt FROM vocab ORDER BY true_cnt DESC, word LIMIT $CmsTopK),
         |tp AS (
         |  SELECT t.word, t.true_cnt, i.i,
         |    ${graft.functions.CountMinAgg.positionSql("CAST(('0x' || substr(md5(t.word),1,15)) AS BIGINT)", "i.i", CmsWidth)} AS p
         |  FROM top t CROSS JOIN idx i),
         |est AS (
         |  SELECT word, true_cnt, MIN(c) AS est_cnt
         |  FROM tp JOIN cnt ON tp.i = cnt.i AND tp.p = cnt.p
         |  GROUP BY word, true_cnt)
         |SELECT word, true_cnt, est_cnt,
         |  (est_cnt >= true_cnt AND est_cnt - true_cnt <= (3 * (SELECT n FROM tot)) // $CmsWidth) AS within_bound
         |FROM est ORDER BY true_cnt DESC, word""".stripMargin) { (s, dir) =>
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(Exprs.normWords($"text")).as("word"))
      // one corpus pass builds the grid; the exact side below is the
      // COMPANION (at 100 TB it is exactly what the sketch replaces —
      // here it doubles as ground truth, as q20 does with its sketches)
      val cms = words
        .agg(graft.functions.CountMinAgg(Exprs.hash60($"word"), CmsWidth, CmsDepth).as("grid"))
      // vocabulary-sized cache feeds the total AND the top-k (the
      // ta_collocations multi-consumer lesson; the corpus is never cached)
      val vocab = words.groupBy($"word").agg(count(lit(1)).as("true_cnt")).cache()
      val n = vocab.agg(sum($"true_cnt")).collect().head.getLong(0)
      val bound = 3L * n / CmsWidth
      vocab.orderBy($"true_cnt".desc, $"word").limit(CmsTopK)
        .crossJoin(broadcast(cms))
        .withColumn("h", Exprs.hash60($"word"))
        .withColumn("est_cnt",
          graft.functions.CountMinAgg.estimate("grid", "h", CmsWidth, CmsDepth))
        .select($"word", $"true_cnt", $"est_cnt",
          ($"est_cnt" >= $"true_cnt" && $"est_cnt" - $"true_cnt" <= bound).as("within_bound"))
        .transform(d => graft.QueryDef.smallSort(d, $"true_cnt".desc, $"word"))
    },

    // Interpolated bigram language-model scoring — the next rung above
    // ta_unigram_logprob / ta_ccnet_buckets on the LM-quality ladder:
    // P(w2|w1) = 0.7·c(w1,w2)/c(w1) + 0.3·c(w2)/N when the bigram is in
    // the model, unigram-only backoff otherwise (Jelinek–Mercer
    // interpolation with a count floor — [[BigramMinCount]] keeps the
    // model zipf-small instead of O(vocab²), and every corpus word is in
    // the vocab by construction so backoff probability is never zero).
    // Per doc: bigram count, backoff count, mean negative log-likelihood
    // (4 dp, the ta_unigram_logprob discipline). Scale: the vocab and the
    // floored bigram model broadcast locally; at 100 TB the bigram-model
    // join shifts to a shuffle join keyed on the bigram — the corpus-side
    // bigram explode stays in-stage either way, and the only event-volume
    // shuffles are the two model aggregates and the per-doc rollup.
    sqlChecked(
      "ta_bigram_lm",
      s"""WITH toks AS (SELECT doc_id, $toksSqlFrag AS w FROM documents),
         |words AS (SELECT unnest(w) AS word FROM toks),
         |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
         |tot AS (SELECT SUM(c) AS n FROM vocab),
         |b0 AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w
         |       FROM toks WHERE len(w) >= 2),
         |bi AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM b0),
         |model AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2
         |          HAVING COUNT(*) >= $BigramMinCount),
         |j AS (
         |  SELECT bi.doc_id, m.cb, a.c AS c1, b.c AS c2
         |  FROM bi LEFT JOIN model m ON bi.w1 = m.w1 AND bi.w2 = m.w2
         |  JOIN vocab a ON bi.w1 = a.word
         |  JOIN vocab b ON bi.w2 = b.word)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
         |  round(avg(-ln(CASE WHEN cb IS NOT NULL
         |    THEN 0.7 * (CAST(cb AS DOUBLE) / CAST(c1 AS DOUBLE)) + 0.3 * (CAST(c2 AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE))
         |    ELSE 0.3 * (CAST(c2 AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)) END)), 4) AS score
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      bigramLm(s, Tables.documents(s, dir))
    },

    // Sequence packing (concat-and-chop) — the step that turns a cleaned
    // corpus into fixed-budget training sequences: docs are concatenated in
    // deterministic order within a hash shard and chopped every 512 tokens;
    // each doc reports the pack range it lands in. Pure window arithmetic —
    // per-shard cumulative token offsets — so packing is reproducible under
    // any partitioning. Scale: shards are independent (one window per
    // shard, no global order), the 100 TB layout is one writer per shard.
    // The shard COUNT is semantics-bearing (it decides the pack layout):
    // `PackShards`, which the oracle interpolates too. A real run sizes
    // it to the corpus: shards ∝ rows keeps the per-shard window constant
    // (held at 8 while rows grew 8×, the r06/r07 scale-up runs measured a
    // 2.5-3× time ratio).
    sqlChecked(
      "ta_seq_pack",
      raw"""WITH toks AS (
        |  SELECT doc_id, doc_id % $PackShards AS shard,
        |    CAST(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |         w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM toks)
        |SELECT doc_id, shard, n_tokens,
        |  (cum - n_tokens) // 512 AS pack_first,
        |  CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // 512
        |       ELSE (cum - 1) // 512 END AS pack_last,
        |  CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // 512
        |       ELSE (cum - 1) // 512 END - (cum - n_tokens) // 512 + 1 AS n_packs
        |FROM cum ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      seqPack(s, Tables.documents(s, dir))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // TF-IDF-style keyword extraction, top-3 terms per document through the
    // custom TopKPerKey operator. The score is the EXACT rational
    // tf·N/df evaluated as one double division of integers (identical,
    // correctly-rounded result in every engine — no ln(), whose last-ulp
    // differences across libm implementations would make rank ties
    // engine-dependent), rounded to 6 before ranking so both engines rank
    // the same values. Scale: tf and df are partial-aggregated rollups of
    // (doc_id, term) / (term); N broadcasts as one row; the top-3 is the
    // bounded-heap TopKPerKeyExec — one Exchange on doc_id, no sort.
    sqlChecked(
      "ta_keywords",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(CAST(tf * n_docs AS DOUBLE) / df, 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(Exprs.normWords($"text")).as("term"))
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"term", $"tf", $"df",
          round(($"tf" * $"n_docs").cast("double") / $"df", 6).as("score"))
      graft.plans.TopKPerKey.perKey(
          scored,
          keyNames = Seq("doc_id"),
          order = Seq("score" -> false, "term" -> true),
          k = 3)
        .select($"doc_id", $"term", $"tf", $"df", $"score")
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id", $"score".desc, $"term"))
    },

    // The WHOLE curation pipeline composed end-to-end — what a training-data
    // run actually executes, as one oracle-checked query: language-id +
    // quality score + span-dup keep-rule + benchmark decontamination gate
    // the corpus, survivors get packed into 512-token sequences. As of
    // round 10 this runs in the STAGED form a long-lived pipeline uses:
    // [[curationIntermediate]] materializes tokens + TextStats + packed
    // trigrams in ONE corpus pass, and every stage reads that table
    // column-pruned (r9 measured the stateless form at 9 corpus FileScans
    // with 0 ReusedExchange — Catalyst cannot CSE disjoint scan subtrees;
    // PipelineStagedSpec pins zero documents-scans and zero tokenizer
    // expressions in the returned plan). Stage logic is expression-
    // identical to the verified standalone operators (ta_quality's formula
    // over the stored counters, detectLang's scoring half over the stored
    // trigrams, dd_span_dup's windowed gram rollup and ta_decontam's
    // canary gate over the stored tokens); the oracle still derives
    // everything from raw documents, so the intermediate itself is inside
    // the checked surface. Scale: text is touched once; gram/profile sides
    // broadcast or shuffle 16-byte keys, packing windows stay per-shard —
    // no stage introduces an all-pairs or global-order step.
    sqlChecked(
      "ta_pipeline_e2e",
      s"""WITH toks AS (
         |  SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
         |                w -> w <> '') AS w
         |  FROM documents),
         |quality AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |    round(0.4 * (1.0 - punct_ratio) + 0.3 * stop_ratio
         |          + 0.3 * least(1.0, len(w) / 100.0), 6) AS quality
         |  FROM (
         |    SELECT doc_id, w,
         |      CASE WHEN length(text) = 0 THEN 0.0
         |           ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
         |                      / CAST(length(text) AS DOUBLE), 6) END AS punct_ratio,
         |      CASE WHEN len(w) = 0 THEN 0.0
         |           ELSE round(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it')))
         |                      / CAST(len(w) AS DOUBLE), 6) END AS stop_ratio
         |    FROM toks)),
         |ldocs AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS norm
         |  FROM documents),
         |ltg AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, length(norm) - 1),
         |                i -> substr(norm, CAST(i AS INTEGER), 3))) AS tg
         |  FROM ldocs WHERE length(norm) >= 3),
         |prof AS (SELECT * FROM read_parquet('$LangIdProfileGlob') WHERE trigram <> '__OOV__'),
         |oov AS (SELECT w_en AS o_en, w_fr AS o_fr, w_de AS o_de, w_es AS o_es
         |        FROM read_parquet('$LangIdProfileGlob') WHERE trigram = '__OOV__'),
         |lscores AS (
         |  SELECT doc_id,
         |    CAST(sum(coalesce(w_en, o_en)) AS BIGINT) AS s_en,
         |    CAST(sum(coalesce(w_fr, o_fr)) AS BIGINT) AS s_fr,
         |    CAST(sum(coalesce(w_de, o_de)) AS BIGINT) AS s_de,
         |    CAST(sum(coalesce(w_es, o_es)) AS BIGINT) AS s_es,
         |    count(*) AS n_tg
         |  FROM ltg LEFT JOIN prof ON ltg.tg = prof.trigram CROSS JOIN oov
         |  GROUP BY doc_id),
         |lang AS (
         |  SELECT d.doc_id,
         |    CASE WHEN s.n_tg IS NULL THEN 'und'
         |         WHEN s_en <= s_fr AND s_en <= s_de AND s_en <= s_es THEN 'en'
         |         WHEN s_fr <= s_de AND s_fr <= s_es THEN 'fr'
         |         WHEN s_de <= s_es THEN 'de' ELSE 'es' END AS lang_detected
         |  FROM ldocs d LEFT JOIN lscores s USING (doc_id)),
         |sh8 AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(w)-7),
         |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |             w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
         |    FROM toks WHERE len(w) >= 8)),
         |freq AS (SELECT shingle, count(*) AS docs FROM sh8 GROUP BY shingle),
         |per AS (
         |  SELECT sh8.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN freq.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM sh8 JOIN freq USING (shingle) GROUP BY sh8.doc_id),
         |planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 5
         |         THEN text || ' graftbench canary alpha beta gamma delta epsilon zeta'
         |         ELSE text END AS text
         |  FROM documents),
         |ptoks AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
         |                w -> w <> '') AS w
         |  FROM planted),
         |psh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(w)-7),
         |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |             w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
         |    FROM ptoks WHERE len(w) >= 8)),
         |bench AS (SELECT DISTINCT shingle FROM psh WHERE doc_id % 97 = 0),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_hits
         |  FROM psh JOIN bench USING (shingle)
         |  WHERE doc_id % 97 <> 0
         |  GROUP BY doc_id),
         |survivors AS (
         |  SELECT q.doc_id, q.n_tokens, q.quality, l.lang_detected,
         |    CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
         |         ELSE round(per.n_dup / CAST(per.n_grams AS DOUBLE), 6) END AS dup_ratio
         |  FROM quality q
         |  JOIN lang l USING (doc_id)
         |  LEFT JOIN per USING (doc_id)
         |  LEFT JOIN hits USING (doc_id)
         |  WHERE q.doc_id % 97 <> 0
         |    AND q.quality >= 0.4
         |    AND (coalesce(per.n_grams, 0) = 0 OR coalesce(per.n_dup, 0) * 2 < per.n_grams)
         |    AND coalesce(hits.n_hits, 0) = 0),
         |packed AS (
         |  SELECT doc_id, lang_detected, quality, dup_ratio, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM survivors)
         |SELECT doc_id, lang_detected, quality, dup_ratio, n_tokens,
         |  (cum - n_tokens) // 512 AS pack_first
         |FROM packed ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ti = s.read.parquet(curationIntermediate(s, dir))
      // quality stage — ta_quality's formula over the stored counters
      val punctRatio = when($"char_len" === 0, 0.0).otherwise(
        round($"n_punct".cast("double") / $"char_len".cast("double"), 6))
      val stopRatio = when($"n_tokens" === 0, 0.0).otherwise(
        round($"n_stop".cast("double") / $"n_tokens".cast("double"), 6))
      val quality = ti.select($"doc_id", $"n_tokens",
        round(lit(0.4) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio
          + lit(0.3) * least(lit(1.0), $"n_tokens" / lit(100.0)), 6).as("quality"))
      // language stage — detectLang's scoring half over the stored trigrams
      val lang = detectLangFromTrigrams(s,
          ti.select($"doc_id", lit("").as("lang_declared"),
            explode_outer($"tgs").as("tg")))
        .select($"doc_id", $"lang_detected")
      // span-dup stage — dd_span_dup's windowed gram rollup over stored toks
      val wdf = Window.partitionBy($"g")
      val per = ti.filter(size($"toks") >= 8)
        .select($"doc_id",
          explode(array_distinct(Exprs.shingles($"toks", 8))).as("shingle"))
        .select($"doc_id", md5($"shingle").as("g"))
        .withColumn("docs", count(lit(1)).over(wdf))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"docs" >= 2, 1L).otherwise(0L)).as("n_dup"))
      val span = ti.select($"doc_id")
        .join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_grams", lit(0L)).as("n_grams"),
          coalesce($"n_dup", lit(0L)).as("n_dup"))
        .withColumn("dup_ratio",
          when($"n_grams" === 0, 0.0)
            .otherwise(round($"n_dup".cast("double") / $"n_grams".cast("double"), 6)))
        .withColumn("keep", $"n_grams" === 0 || $"n_dup" * 2 < $"n_grams")
        .select($"doc_id", $"dup_ratio", $"keep")
      // decontam stage — ta_decontam's canary gate; the planted append is
      // applied in TOKEN space (the canary is 8 clean lowercase words, so
      // tokenize(text ∥ canary) = toks ∥ canary exactly)
      val canary = array(Seq("graftbench", "canary", "alpha", "beta",
        "gamma", "delta", "epsilon", "zeta").map(lit): _*)
      val psh = ti.select($"doc_id",
          when($"doc_id" % 97 === 0 || $"doc_id" % 31 === 5,
            concat($"toks", canary)).otherwise($"toks").as("toks"))
        .filter(size($"toks") >= 8)
        .select($"doc_id",
          explode(array_distinct(Exprs.shingles($"toks", 8))).as("shingle"))
        .select($"doc_id", Exprs.hash60($"shingle").as("h"))
      val bench = psh.filter($"doc_id" % 97 === 0).select($"h").distinct()
      val hits = psh.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(bench), "h")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      val dec = ti.select($"doc_id").filter($"doc_id" % 97 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id", (coalesce($"n_hits", lit(0L)) >= 1).as("contaminated"))
      val survivors = quality
        .join(lang, "doc_id")
        .join(span, "doc_id")
        .join(dec, "doc_id") // inner: decontam output already excludes the benchmark slice
        .filter($"quality" >= 0.4 && $"keep" && !$"contaminated")
      val w = Window.partitionBy($"doc_id" % 8).orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      survivors
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"lang_detected", $"quality", $"dup_ratio", $"n_tokens",
          expr("(cum - n_tokens) div 512").as("pack_first"))
        .transform(d => graft.QueryDef.smallSort(d, $"doc_id"))
    },

    // Corpus-calibrated quality gate: instead of a fixed quality cutoff
    // (ta_curation's 0.6), CALIBRATE the threshold from the corpus itself —
    // keep the top 20% by the ta_quality score (an exact interpolated 0.8
    // quantile, the same cross-engine percentile semantics q32 pins). This
    // is how real curation sets thresholds (score distributions drift per
    // crawl; percentile targets don't). Scale: the threshold is a 1-row
    // aggregate broadcast back over the corpus — at 100 TB the exact
    // percentile becomes approx_percentile + the q20-style exact bracket
    // refinement; the scoring pass itself is the fused TextStats scan.
    sqlChecked(
      "ta_quality_calibrate",
      s"""WITH q AS (
         |  SELECT doc_id,
         |   round(0.4 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
         |                  / CAST(length(text) AS DOUBLE), 6) END)
         |     + 0.3 * CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE round(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it')))
         |                  / CAST(len(toks) AS DOUBLE), 6) END
         |     + 0.3 * least(1.0, len(toks) / 100.0), 6) AS quality
         |  FROM (SELECT doc_id, text, $toksSqlFrag AS toks FROM documents)),
         |t AS (SELECT round(quantile_cont(quality, 0.8), 6) AS threshold FROM q)
         |SELECT doc_id, quality, threshold, (quality >= threshold) AS keep
         |FROM q CROSS JOIN t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val st = Exprs.textStats($"text")
      val charLen = st.getField("char_len")
      val nTokens = st.getField("n_tokens")
      val punctRatio = when(charLen === 0, 0.0).otherwise(
        round(st.getField("n_punct").cast("double") / charLen.cast("double"), 6))
      val stopRatio = when(nTokens === 0, 0.0).otherwise(
        round(st.getField("n_stop").cast("double") / nTokens.cast("double"), 6))
      val quality = round(lit(0.4) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio
        + lit(0.3) * least(lit(1.0), nTokens / lit(100.0)), 6)
      val q = Tables.documents(s, dir).select($"doc_id", quality.as("quality"))
      val thr = q.agg(round(expr("percentile(quality, 0.8)"), 6).as("threshold"))
      q.crossJoin(broadcast(thr))
        .select($"doc_id", $"quality", $"threshold",
          ($"quality" >= $"threshold").as("keep"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Per-source cap (the RefinedWeb/CCNet "domain mixing" step: no single
    // source may dominate the training mix — cap each source at its K best
    // documents by quality, deterministic (quality desc, doc_id) rank).
    // Scale: ONE window keyed on source; the quality score rides the fused
    // TextStats scan. A genuinely hot source (one domain = half the crawl)
    // is the documented skew case: cap-then-sample per shard, or the
    // TopKPerKey bounded-heap operator keyed on source, which needs no sort
    // at all — both shapes exist in this library.
    sqlChecked(
      "ta_source_cap",
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |   round(0.4 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
         |                  / CAST(length(text) AS DOUBLE), 6) END)
         |     + 0.3 * CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE round(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it')))
         |                  / CAST(len(toks) AS DOUBLE), 6) END
         |     + 0.3 * least(1.0, len(toks) / 100.0), 6) AS quality
         |  FROM (SELECT doc_id, source, text, $toksSqlFrag AS toks FROM documents)),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
         |  FROM q)
         |SELECT doc_id, source, quality, CAST(rk AS BIGINT) AS rk, (rk <= 15) AS keep
         |FROM ranked ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val st = Exprs.textStats($"text")
      val charLen = st.getField("char_len")
      val nTokens = st.getField("n_tokens")
      val punctRatio = when(charLen === 0, 0.0).otherwise(
        round(st.getField("n_punct").cast("double") / charLen.cast("double"), 6))
      val stopRatio = when(nTokens === 0, 0.0).otherwise(
        round(st.getField("n_stop").cast("double") / nTokens.cast("double"), 6))
      val quality = round(lit(0.4) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio
        + lit(0.3) * least(lit(1.0), nTokens / lit(100.0)), 6)
      val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id".asc)
      Tables.documents(s, dir)
        .select($"doc_id", $"source", quality.as("quality"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("keep", $"rk" <= 15)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Fixed-size token chunking with overlap (the RAG / long-context prep
    // step: every document becomes ⌈n/stride⌉ chunks of ≤512 tokens
    // starting every 384 — 128-token overlap so no span is split across a
    // boundary without a copy that contains it whole). Output pins the
    // exact token content of every chunk via an md5 over the
    // space-rejoined slice. Scale: pure per-row explode — a document's
    // chunks are derived in its own task from the one NormWords pass, no
    // shuffle at all before the presentation sort; the explode factor
    // (~n_tokens/384) is the output's inherent size.
    sqlChecked(
      "ta_chunk",
      s"""WITH d AS (SELECT doc_id, $toksSqlFrag AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    unnest(generate_series(0, greatest(0,
         |      CAST(ceil((len(toks) - 512) / 384.0) AS BIGINT)))) AS chunk_id,
         |    toks
         |  FROM d)
         |SELECT doc_id, chunk_id,
         |  chunk_id * 384 AS tok_start,
         |  least(chunk_id * 384 + 512, n_tokens) AS tok_end,
         |  least(chunk_id * 384 + 512, n_tokens) - chunk_id * 384 AS n_chunk_tokens,
         |  md5(array_to_string(toks[chunk_id * 384 + 1 : least(chunk_id * 384 + 512, n_tokens)], ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ChunkLen = 512
      val Stride = 384
      val toks = Exprs.normWords($"text")
      Tables.documents(s, dir)
        .select($"doc_id", toks.as("toks"))
        .withColumn("n_tokens", size($"toks").cast("long"))
        // ⌈(n-512)/384⌉ last chunk start index (0 when the doc fits one chunk)
        .withColumn("last_chunk",
          when($"n_tokens" === 0, 0L)
            .otherwise(greatest(lit(0L),
              expr(s"cast(ceil((n_tokens - $ChunkLen) / $Stride.0D) as bigint)"))))
        .select($"doc_id", $"n_tokens", $"toks",
          explode(sequence(lit(0L), $"last_chunk")).as("chunk_id"))
        .select($"doc_id", $"chunk_id",
          ($"chunk_id" * Stride).as("tok_start"),
          least($"chunk_id" * Stride + ChunkLen, $"n_tokens").as("tok_end"),
          (least($"chunk_id" * Stride + ChunkLen, $"n_tokens") - $"chunk_id" * Stride)
            .as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice($"toks", ($"chunk_id" * Stride + 1).cast("int"),
              least(lit(ChunkLen.toLong),
                $"n_tokens" - $"chunk_id" * Stride).cast("int"))))
            .as("chunk_fp"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id", $"chunk_id"))
    },

    // Gopher repetition rules (Rae et al. 2021 §A1.1, the second heuristic
    // family next to ta_gopher_rules' structural rules): WITHIN-document
    // repetition — duplicate-line fraction (≤0.30), duplicate-line
    // CHARACTER fraction (≤0.20), and top-bigram fraction (≤0.18; the max
    // count needs no tie-break — ties share the count). Lines are
    // newline-split with blank lines dropped (a blank line is formatting,
    // not repeated content). Scale: the line and bigram rollups shuffle on
    // (doc_id, line-hash)/(doc_id, bigram) — per-document keys, perfectly
    // parallel, no corpus-wide state; everything re-joins on doc_id.
    sqlChecked(
      "ta_repetition",
      s"""WITH lines AS (
         |  SELECT doc_id, l, length(l) AS chars FROM (
         |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
         |  WHERE trim(l) <> ''),
         |lc AS (SELECT doc_id, l, chars, COUNT(*) AS cnt FROM lines GROUP BY doc_id, l, chars),
         |line_stats AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
         |    CASE WHEN SUM(cnt) = 0 THEN 0.0
         |         ELSE round(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE), 6) END AS dup_line_frac,
         |    CASE WHEN SUM(cnt * chars) = 0 THEN 0.0
         |         ELSE round(SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) / CAST(SUM(cnt * chars) AS DOUBLE), 6) END AS dup_line_char_frac
         |  FROM lc GROUP BY doc_id),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         |                                       i -> toks[i] || ' ' || toks[i + 1])) AS b
         |  FROM (SELECT doc_id, $toksSqlFrag AS toks FROM documents)
         |  WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY doc_id, b),
         |bg_stats AS (
         |  SELECT doc_id, round(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_bigram_frac
         |  FROM bc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_lines, 0) AS n_lines,
         |  COALESCE(dup_line_frac, 0.0) AS dup_line_frac,
         |  COALESCE(dup_line_char_frac, 0.0) AS dup_line_char_frac,
         |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
         |  (COALESCE(dup_line_frac, 0.0) <= 0.30
         |   AND COALESCE(dup_line_char_frac, 0.0) <= 0.20
         |   AND COALESCE(top_bigram_frac, 0.0) <= 0.18) AS keep
         |FROM documents d
         |LEFT JOIN line_stats USING (doc_id) LEFT JOIN bg_stats USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val lines = docs
        .select($"doc_id", explode(split($"text", "\n")).as("l"))
        .filter(trim($"l") =!= "")
        .withColumn("chars", length($"l").cast("long"))
      val lineStats = lines
        .groupBy($"doc_id", $"l", $"chars").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(
          sum($"cnt").as("n_lines"),
          round(sum(when($"cnt" > 1, $"cnt").otherwise(0L)).cast("double")
            / sum($"cnt").cast("double"), 6).as("dup_line_frac"),
          round(sum(when($"cnt" > 1, $"cnt" * $"chars").otherwise(0L)).cast("double")
            / sum($"cnt" * $"chars").cast("double"), 6).as("dup_line_char_frac"))
      val toks = Exprs.normWords($"text")
      val bgStats = docs
        .select($"doc_id", toks.as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(
          zip_with(
            slice($"toks", lit(1), size($"toks") - 1),
            slice($"toks", lit(2), size($"toks") - 1),
            (a, b) => concat(a, lit(" "), b))).as("b"))
        .groupBy($"doc_id", $"b").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(round(max($"cnt").cast("double") / sum($"cnt").cast("double"), 6)
          .as("top_bigram_frac"))
      docs.select($"doc_id")
        .join(lineStats, Seq("doc_id"), "left")
        .join(bgStats, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_lines", lit(0L)).as("n_lines"),
          coalesce($"dup_line_frac", lit(0.0)).as("dup_line_frac"),
          coalesce($"dup_line_char_frac", lit(0.0)).as("dup_line_char_frac"),
          coalesce($"top_bigram_frac", lit(0.0)).as("top_bigram_frac"))
        .withColumn("keep",
          $"dup_line_frac" <= 0.30 && $"dup_line_char_frac" <= 0.20
            && $"top_bigram_frac" <= 0.18)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Corpus SNAPSHOT DIFF — the incremental-ingest primitive: given two
    // crawl versions of the corpus, classify every doc as added / removed
    // / changed (content fingerprint moved) and emit ONLY the delta. The
    // "new" version is derived deterministically from the same table so
    // the oracle replays it: docs with doc_id % 97 == 0 disappear
    // (removed), docs with doc_id % 89 == 0 get re-crawled with a marker
    // appended (changed), and a shifted id range appears (added). Scale:
    // both sides collapse to (doc_id, md5(text)) — 24-byte rows — BEFORE
    // the full outer join, so the diff shuffles fingerprints, never text;
    // the emitted delta is change-sized, not corpus-sized. This is the
    // incremental topology every recrawl pipeline runs: diff → route the
    // `added`/`changed` slice through cleaning/dedup → tombstone the
    // `removed` ids downstream.
    sqlChecked(
      "ta_snapshot_diff",
      """WITH a AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 89 = 0 THEN md5(text || ' [recrawl]')
        |         ELSE md5(text) END AS fp
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, fp FROM (
        |    SELECT doc_id, md5('new page ' || doc_id) AS fp
        |    FROM documents WHERE doc_id % 83 = 0))
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.fp <> b.fp
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val a = docs.select($"doc_id", md5($"text").as("fp"))
      val b = docs.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 89 === 0, md5(concat($"text", lit(" [recrawl]"))))
            .otherwise(md5($"text")).as("fp"))
        .union(docs.filter($"doc_id" % 83 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            md5(concat(lit("new page "), $"doc_id")).as("fp")))
      // both sides derive from the same scan — qualify through aliases so
      // the self-join columns resolve unambiguously
      a.as("va").join(b.as("vb"), $"va.doc_id" === $"vb.doc_id", "full_outer")
        .filter($"va.doc_id".isNull || $"vb.doc_id".isNull || $"va.fp" =!= $"vb.fp")
        .select(coalesce($"va.doc_id", $"vb.doc_id").as("doc_id"),
          when($"va.doc_id".isNull, "added")
            .when($"vb.doc_id".isNull, "removed")
            .otherwise("changed").as("status"))
        .transform(d => graft.QueryDef.smallSort(d, $"doc_id"))
    }
  )

  /** Interpolated bigram LM scoring (see the ta_bigram_lm comment).
    * Exposed for CurationScoringSpec's fixture tests.
    */
  def bigramLm(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val toks = docs.select($"doc_id", Exprs.normWords($"text").as("toks"))
    val words = toks.select(explode($"toks").as("word"))
    // vocabulary-sized cache: feeds the c1 side, the c2 side and the total
    // (the ta_collocations multi-consumer lesson; the corpus-sized bigram
    // explode below is recomputed per consumer instead of cached)
    val vocab = words.groupBy($"word").agg(count(lit(1)).as("c")).cache()
    val n = vocab.agg(sum($"c")).collect().head.getLong(0)
    val bi = toks.filter(size($"toks") >= 2)
      .select($"doc_id", explode(zip_with(
        slice($"toks", lit(1), size($"toks") - 1),
        slice($"toks", lit(2), size($"toks") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val model = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      .filter($"cb" >= BigramMinCount)
    val pUni = lit(0.3) * ($"c2".cast("double") / n.toDouble)
    val p = when($"cb".isNotNull,
      lit(0.7) * ($"cb".cast("double") / $"c1".cast("double")) + pUni).otherwise(pUni)
    bi
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .join(broadcast(vocab.select($"word".as("w1"), $"c".as("c1"))), Seq("w1"))
      .join(broadcast(vocab.select($"word".as("w2"), $"c".as("c2"))), Seq("w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"cb".isNull, 1L).otherwise(0L)).as("n_backoff"),
        round(avg(-log(p)), 4).as("score"))
      .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
  }

  /** Core of ta_gopher_rules over any (doc_id, text) frame — exposed for
    * PipelineHeadline's composed gate stage.
    */
  def gopherFlags(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val toks = Exprs.normWords($"text")
    val nWords = size(toks).cast("long")
    val meanWordLen = when(nWords === 0, 0.0).otherwise(
      round(length(concat_ws("", toks)).cast("double") / nWords.cast("double"), 6))
    val distinctRatio = when(nWords === 0, 0.0).otherwise(
      round(size(array_distinct(toks)).cast("double") / nWords.cast("double"), 6))
    val nStop = size(filter(toks, w => w.isin(stopEn: _*))).cast("long")
    docs
      .select($"doc_id", nWords.as("n_words"), meanWordLen.as("mean_word_len"),
        distinctRatio.as("distinct_ratio"), nStop.as("n_stop"))
      .withColumn("ok_len", $"n_words" >= 20 && $"n_words" <= 100000)
      .withColumn("ok_word_len", $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0)
      .withColumn("ok_repetition", $"distinct_ratio" >= 0.3)
      .withColumn("ok_stopwords", $"n_stop" >= 2)
      .withColumn("keep",
        $"ok_len" && $"ok_word_len" && $"ok_repetition" && $"ok_stopwords")
  }

  /** Core of ta_quality over any (doc_id, text) frame — one fused TextStats
    * scan per doc (the sf1-convicted formulation fix, BASELINE.md round 9).
    */
  def qualityScores(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val st = Exprs.textStats($"text")
    val charLen = st.getField("char_len")
    val nTokens = st.getField("n_tokens")
    val punctRatio = when(charLen === 0, 0.0).otherwise(
      round(st.getField("n_punct").cast("double") / charLen.cast("double"), 6))
    val stopRatio = when(nTokens === 0, 0.0).otherwise(
      round(st.getField("n_stop").cast("double") / nTokens.cast("double"), 6))
    docs
      .select($"doc_id", charLen.as("char_len"), nTokens.as("n_tokens"),
        punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"))
      .withColumn("quality",
        round(lit(0.4) * (lit(1.0) - $"punct_ratio") + lit(0.3) * $"stop_ratio"
          + lit(0.3) * least(lit(1.0), $"n_tokens" / lit(100.0)), 6))
  }

  /** Core of ta_seq_pack over any (doc_id, text) frame: greedy sequential
    * packing into 512-token bins, sharded for parallelism (the per-shard
    * running sum is the only window).
    */
  def seqPack(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select($"doc_id", ($"doc_id" % PackShards).as("shard"),
        size(Exprs.normWords($"text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"shard", $"n_tokens",
        expr("(cum - n_tokens) div 512").as("pack_first"),
        when($"n_tokens" === 0, expr("(cum - n_tokens) div 512"))
          .otherwise(expr("(cum - 1) div 512")).as("pack_last"))
      .withColumn("n_packs", $"pack_last" - $"pack_first" + 1)
  }
}
