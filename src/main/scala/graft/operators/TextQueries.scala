package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, QueryPack, Tables, TopK}
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` table (LLM-pipeline tier):
  * token counting, language ID, quality scoring, shingle fingerprinting.
  * All column logic comes from [[graft.functions.TextFunctions]] (pure
  * codegen'd built-ins); the oracles replicate the same arithmetic in
  * DuckDB SQL.
  */
object TextQueries extends QueryPack {

  /** DuckDB fragment mirroring TextFunctions.stopwordScore. */
  private def occSql(lang: String): String = {
    val words = Map(
      "en" -> Seq(" the ", " a ", " and ", " of "),
      "de" -> Seq(" und ", " der ", " die ", " das "),
      "fr" -> Seq(" le ", " la ", " les ", " et "),
      "es" -> Seq(" el ", " los ", " las ", " que "))(lang)
    words.map(w =>
      s"(length(p) - length(replace(p, '$w', ''))) / ${w.length}")
      .mkString(" + ")
  }

  def queries: Seq[Q] = Seq(
    Q("t01_token_stats",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            size(wordShingles(col("text"), 3)).as("n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN []
             |       ELSE regexp_split_to_array(trim(text), '\s+') END w
             | FROM documents)
             |SELECT doc_id, len(w) AS n_tokens,
             | CASE WHEN len(w) < 3 THEN 0
             |      ELSE len(list_distinct(list_transform(range(1, len(w)-1),
             |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) END AS n_shingles
             |FROM t ORDER BY doc_id""".stripMargin)),

    Q("t02_lang_id",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang_pred"))
      },
      Some(s"""WITH t AS (SELECT ' ' || text || ' ' p FROM documents),
              |sc AS (SELECT
              |  ${occSql("en")} AS en,
              |  ${occSql("de")} AS de,
              |  ${occSql("fr")} AS fr,
              |  ${occSql("es")} AS es
              | FROM t)
              |SELECT CASE
              |  WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
              |  WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
              |  WHEN fr > 0 AND fr >= es THEN 'fr'
              |  WHEN es > 0 THEN 'es'
              |  ELSE 'und' END AS lang_pred, COUNT(*) AS n
              |FROM sc GROUP BY 1 ORDER BY lang_pred""".stripMargin)),

    Q("t03_quality_score",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            length(col("text")).as("n_chars"),
            round(alphaRatio(col("text")), 6).as("alpha_ratio"),
            round(qualityScore(col("text")), 6).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, ' ' || text || ' ' p,
              |  CASE WHEN length(trim(text)) = 0 THEN 0
              |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END toks
              | FROM documents)
              |SELECT doc_id, length(text) AS n_chars,
              | ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text), 6)
              |  AS alpha_ratio,
              | ROUND(0.5 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text))
              |  + 0.3 * least(1.0, toks / 100.0)
              |  + 0.2 * least(1.0, (${occSql("en")}) * 10.0 / toks), 6) AS quality
              |FROM t ORDER BY doc_id""".stripMargin)),

    // Winnowing-style content fingerprint: min hash over shingles, using a
    // portable hash (md5 hex, lexicographic min) so the oracle reproduces it.
    Q("t04_shingle_fingerprint",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            array_min(transform(wordShingles(col("text"), 3), s => md5(s)))
              .as("shingle_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, text,
             |  regexp_split_to_array(trim(text), '\s+') w FROM documents)
             |SELECT doc_id,
             | CASE WHEN length(trim(text)) = 0 OR len(w) < 3 THEN NULL
             |      ELSE list_min(list_transform(
             |        list_distinct(list_transform(range(1, len(w)-1),
             |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
             |        s -> md5(s))) END AS shingle_fp
             |FROM t ORDER BY doc_id""".stripMargin)),

    // BPE-ish token budget next to the whitespace count: the pattern is
    // the GPT-2 pre-tokenizer shape restricted to Java-regex ∩ RE2 so
    // both engines count identically on the ASCII corpus.
    Q("t05_bpe_tokens",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            tokenCount(col("text")).as("ws_tokens"),
            bpeTokenCount(col("text")).as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text,
              |  CASE WHEN length(trim(text)) = 0 THEN 0
              |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END ws
              | FROM documents)
              |SELECT doc_id, ws AS ws_tokens,
              | len(regexp_extract_all(text,
              |   '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))
              |  AS bpe_tokens
              |FROM t ORDER BY doc_id""".stripMargin)),

    // True rolling-hash fingerprint (Rabin-Karp O(n) per doc, native
    // expression). The wrap-around ring Z/2⁶⁴ IS expressible in DuckDB
    // after all: every window hash ≡ the direct polynomial
    // Σ b[s+k]·B^(63−k) (mod 2⁶⁴) — the rolling update is just the same
    // polynomial computed incrementally — and HUGEINT holds the ≤2⁷⁸
    // partial sums, reduced with one `% 2⁶⁴` and re-signed to BIGINT for
    // the signed min Spark takes. The 64 power-of-B constants are
    // precomputed HERE with the very Long wrap-around the expression
    // uses. Byte access: the corpus is pure ASCII (checked at every SF),
    // so `ord(substr(text,i,1))` equals the UTF-8 byte the Spark side
    // hashes. The ScalaTest property suite additionally pins the rolling
    // arithmetic against a per-window recompute.
    Q("t06_rolling_fingerprint",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.Hashing.rollingHashMin(col("text"), 64)
              .as("rolling_fp"))
          .orderBy(col("doc_id"))
      },
      Some {
        val pows = Array.iterate(1L, 64)(_ * 257L) // B^i in Z/2⁶⁴
        val powRows = (0 until 64).map(k =>
          s"($k, ${java.lang.Long.toUnsignedString(pows(63 - k))}::HUGEINT)")
          .mkString(", ")
        s"""WITH pw(k, p) AS (VALUES $powRows),
           |d AS (SELECT doc_id, text, length(text) AS n FROM documents),
           |win AS (SELECT doc_id, unnest(generate_series(1, n - 63)) AS s
           |        FROM d WHERE n >= 64),
           |h AS (
           |  SELECT w.doc_id, w.s,
           |    SUM(CAST(ord(substr(d.text, CAST(w.s + pw.k AS INTEGER), 1))
           |          AS HUGEINT) * pw.p)
           |      % 18446744073709551616::HUGEINT AS hu
           |  FROM win w JOIN d USING (doc_id) CROSS JOIN pw
           |  GROUP BY w.doc_id, w.s),
           |sgn AS (
           |  SELECT doc_id, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
           |      THEN hu - 18446744073709551616::HUGEINT ELSE hu END
           |    AS BIGINT) AS hs
           |  FROM h)
           |SELECT d.doc_id, MIN(s.hs) AS rolling_fp
           |FROM d LEFT JOIN sgn s USING (doc_id)
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
      }),

    // Generator (explode/UNNEST) + top-k: corpus vocabulary head. The
    // explode stays inside the scan stage (Generate under the partial
    // aggregate — no pre-shuffle materialization of the token stream).
    Q("t07_token_topk",
      (s, dir) => {
        Tables(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20)
      },
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |  FROM documents WHERE length(trim(text)) > 0) t
             |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // ---- TF-IDF keyword extraction: top-3 most distinctive tokens per
    // document. Corpus statistics (document frequency, corpus size) join
    // back to the per-doc term frequencies — the canonical two-pass
    // shape: tf is a partial+final hash agg off the exploded scan, df a
    // second agg over it keyed by token (one shuffle each), the corpus
    // size a broadcast single row. Scores round to 6dp before ranking so
    // ties (and any last-ulp ln() divergence between engines) break on
    // the token string deterministically.
    Q("t08_tfidf_topk",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(df, "token")
          .crossJoin(broadcast(n))
          .withColumn("score",
            round(col("tf") * log(col("n_docs") / col("df")), 6))
          .transform(TopK.perKey(_, Seq(col("doc_id")),
            Seq(col("score").desc, col("token")), 3, "rk"))
          .select(col("doc_id"), col("rk"), col("token"), col("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE length(trim(text)) > 0),
             |tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM (
             |    SELECT doc_id,
             |      unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |    FROM d) t GROUP BY 1, 2),
             |df AS (
             |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM d),
             |scored AS (
             |  SELECT tf.doc_id, tf.token,
             |    ROUND(tf.tf * ln(n.n_docs / df.df), 6) AS score
             |  FROM tf JOIN df USING (token) CROSS JOIN n),
             |ranked AS (
             |  SELECT doc_id, token, score, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id ORDER BY score DESC, token) AS rk
             |  FROM scored)
             |SELECT doc_id, rk, token, score FROM ranked WHERE rk <= 3
             |ORDER BY doc_id, rk""".stripMargin)),

    // ---- PII redaction (TextFunctions.redactPii): scrub URLs, emails,
    // phone numbers from a training corpus — pure codegen'd
    // regexp_replace, one projection pass. The synthetic corpus carries
    // no PII, so each document is AUGMENTED (in the query, identically
    // on both sides) with a deterministic email/phone/URL tail keyed by
    // doc_id — the redactor then has real work whose output the oracle
    // must reproduce byte-for-byte (compared via md5; counts via
    // regexp_count). Patterns are Java-regex ∩ RE2, so the oracle runs
    // them verbatim.
    Q("t09_pii_redaction",
      (s, dir) => {
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now, call 555-123-4567, " +
            "see https://ex.example/a?b=1 end"))
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            md5(redactPii(aug)).as("clean_md5"),
            regexp_count(aug, lit(EmailRe)).as("n_emails"),
            regexp_count(aug, lit(UrlRe)).as("n_urls"),
            regexp_count(aug, lit(PhoneRe)).as("n_phones"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text || ' contact user' ||
             |    CAST(doc_id AS VARCHAR) ||
             |    '@example.com now, call 555-123-4567, see https://ex.example/a?b=1 end'
             |    AS t
             |  FROM documents)
             |SELECT doc_id,
             |  md5(regexp_replace(regexp_replace(regexp_replace(t,
             |    'https?://[^ ]+', '<URL>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g')) AS clean_md5,
             |  len(regexp_extract_all(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(t, 'https?://[^ ]+')) AS n_urls,
             |  len(regexp_extract_all(t,
             |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS n_phones
             |FROM aug ORDER BY doc_id""".stripMargin)),

    // ---- Deterministic (hash-gated) sampling: the downsampling step of
    // a corpus pipeline, done WITHOUT rand() — a row is kept iff the
    // first byte of md5(key) falls under the rate threshold. Unlike
    // seeded rand() (partition-layout-dependent, irreproducible across
    // engines/cluster sizes), the hash gate is a pure row function: the
    // same corpus samples identically everywhere, re-runs are stable,
    // and train/eval splits never drift — which is why it has an EXACT
    // cross-engine oracle. '28' ≈ 0x28/0x100 = 15.6% target rate; the
    // gate emits per-language sampled/total counts plus the kept-id
    // checksum, so both the rate and the exact membership are pinned.
    Q("t10_deterministic_sample",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keep = substring(md5(col("doc_id").cast("string")), 1, 2) <= "28"
        docs
          .groupBy(langId(col("text")).as("lang_pred"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
            // Membership checksum: xor-free portable form — md5 of the
            // sorted kept-id list.
            md5(concat_ws(",", transform(sort_array(collect_list(
              when(keep, col("doc_id")))), _.cast("string"))))
              .as("sample_ids_md5"))
          .orderBy(col("lang_pred"))
      },
      Some(s"""WITH t AS (SELECT doc_id, ' ' || text || ' ' p FROM documents),
              |sc AS (SELECT doc_id,
              |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' AS keep,
              |  ${occSql("en")} AS en,
              |  ${occSql("de")} AS de,
              |  ${occSql("fr")} AS fr,
              |  ${occSql("es")} AS es
              | FROM t)
              |SELECT CASE
              |  WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
              |  WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
              |  WHEN fr > 0 AND fr >= es THEN 'fr'
              |  WHEN es > 0 THEN 'es'
              |  ELSE 'und' END AS lang_pred,
              | COUNT(*) AS n_total,
              | CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_sampled,
              | md5(COALESCE(string_agg(
              |   CASE WHEN keep THEN CAST(doc_id AS VARCHAR) END,
              |   ',' ORDER BY doc_id), '')) AS sample_ids_md5
              |FROM sc GROUP BY 1 ORDER BY lang_pred""".stripMargin)),

    // ---- Gopher-style quality rules (Rae et al. 2021 §A1.1, public):
    // the repetition and format heuristics a pretraining corpus is
    // filtered on — word count bounds, mean word length, alphabetic-word
    // fraction, duplicate-line fraction, bullet-line fraction — plus the
    // conjunctive keep flag. The synthetic corpus has no line structure,
    // so each document is AUGMENTED (identically on both sides, the t09
    // pattern) with deterministic repeated lines (doc_id%5) and bullet
    // lines (doc_id%7), giving the line-level rules real work the oracle
    // must reproduce. Fractions round to 6dp BEFORE the keep conjunction
    // so both engines threshold identical values. One projection pass,
    // all codegen'd built-ins — at 100 TB this runs at scan speed.
    Q("t12_gopher_quality",
      (s, dir) => {
        val aug = concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("\nrepeat line\nrepeat line\nrepeat line"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("\n- bullet one\n- bullet two")).otherwise(lit("")))
        Tables(s, dir, "documents")
          .withColumn("aug", aug)
          .withColumn("words",
            when(length(trim(col("aug"))) === 0,
              array().cast("array<string>"))
              .otherwise(split(trim(col("aug")), "\\s+")))
          .withColumn("n_words", size(col("words")).cast("long"))
          .withColumn("lines_",
            filter(transform(split(col("aug"), "\n"), l => trim(l)),
              l => length(l) > 0))
          .withColumn("n_lines", size(col("lines_")))
          .select(
            col("doc_id"), col("n_words"),
            round(when(col("n_words") === 0, 0.0)
              .otherwise(length(regexp_replace(col("aug"), "\\s", ""))
                .cast("double") / col("n_words")), 6).as("mean_word_len"),
            round(when(col("n_words") === 0, 0.0)
              .otherwise(size(filter(col("words"), w => w.rlike("[A-Za-z]")))
                .cast("double") / col("n_words")), 6).as("alpha_word_frac"),
            round(when(col("n_lines") === 0, 0.0)
              .otherwise(lit(1.0) - size(array_distinct(col("lines_")))
                .cast("double") / col("n_lines")), 6).as("dup_line_frac"),
            round(when(col("n_lines") === 0, 0.0)
              .otherwise(size(filter(col("lines_"),
                l => l.startsWith("- ") || l.startsWith("* ")))
                .cast("double") / col("n_lines")), 6).as("bullet_line_frac"))
          .withColumn("keep",
            col("n_words").between(50, 100000) &&
              col("mean_word_len").between(3.0, 10.0) &&
              col("alpha_word_frac") > 0.8 &&
              col("dup_line_frac") < 0.3 &&
              col("bullet_line_frac") < 0.9)
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (SELECT doc_id, text ||
             |  CASE WHEN doc_id % 5 = 0 THEN chr(10)||'repeat line'||
             |    chr(10)||'repeat line'||chr(10)||'repeat line'
             |    ELSE '' END ||
             |  CASE WHEN doc_id % 7 = 0 THEN chr(10)||'- bullet one'||
             |    chr(10)||'- bullet two' ELSE '' END AS a
             | FROM documents),
             |m AS (SELECT doc_id, a,
             |  CASE WHEN length(trim(a)) = 0 THEN []
             |       ELSE regexp_split_to_array(trim(a), '\s+') END AS w,
             |  list_filter(list_transform(string_split(a, chr(10)),
             |    x -> trim(x)), x -> length(x) > 0) AS ls
             | FROM aug),
             |x AS (SELECT doc_id, len(w) AS n_words,
             |  ROUND(CASE WHEN len(w) = 0 THEN 0 ELSE
             |    length(regexp_replace(a, '\s', '', 'g')) / len(w) END, 6)
             |    AS mean_word_len,
             |  ROUND(CASE WHEN len(w) = 0 THEN 0 ELSE
             |    len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
             |      / len(w) END, 6) AS alpha_word_frac,
             |  ROUND(CASE WHEN len(ls) = 0 THEN 0 ELSE
             |    1.0 - len(list_distinct(ls)) / len(ls) END, 6)
             |    AS dup_line_frac,
             |  ROUND(CASE WHEN len(ls) = 0 THEN 0 ELSE
             |    len(list_filter(ls, t -> starts_with(t, '- ')
             |      OR starts_with(t, '* '))) / len(ls) END, 6)
             |    AS bullet_line_frac
             | FROM m)
             |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
             | dup_line_frac, bullet_line_frac,
             | (n_words BETWEEN 50 AND 100000
             |  AND mean_word_len BETWEEN 3.0 AND 10.0
             |  AND alpha_word_frac > 0.8
             |  AND dup_line_frac < 0.3
             |  AND bullet_line_frac < 0.9) AS keep
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ---- Stratified sampling: exactly k documents per language stratum
    // (vs t10's global rate gate), chosen deterministically by hash
    // order — per-stratum quotas are how corpus mixes are actually
    // specified ("30k docs per language"), and the hash order makes the
    // draw reproducible across engines and runs. One window shuffle
    // keyed by the stratum; skewed strata are AQE's case. The gate
    // emits per-stratum counts plus the exact membership checksum.
    Q("t15_stratified_sample",
      (s, dir) => {
        val k = 30
        val w = Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables(s, dir, "documents")
          .withColumn("rk", row_number().over(w))
          .withColumn("keep", col("rk") <= k)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
            md5(concat_ws(",", transform(sort_array(collect_list(
              when(col("keep"), col("doc_id")))), _.cast("string"))))
              .as("sample_ids_md5"))
          .orderBy(col("lang"))
      },
      Some("""WITH r AS (SELECT doc_id, lang,
             |  ROW_NUMBER() OVER (PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rk
             | FROM documents)
             |SELECT lang, COUNT(*) AS n_total,
             | CAST(COUNT(*) FILTER (WHERE rk <= 30) AS BIGINT) AS n_sampled,
             | md5(COALESCE(string_agg(
             |   CASE WHEN rk <= 30 THEN CAST(doc_id AS VARCHAR) END,
             |   ',' ORDER BY doc_id), '')) AS sample_ids_md5
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- Character-entropy scoring (TextFunctions.charEntropy): the
    // model-free perplexity proxy — low entropy flags padding/repetition,
    // high flags noise. Both engines sum -p·log2(p) over the same
    // first-occurrence-ordered distinct characters (Spark array_distinct
    // and DuckDB list_distinct both preserve first occurrence on these
    // ASCII docs) and round to 6dp before the band flags, so the
    // classification thresholds compare identical values.
    Q("t14_char_entropy",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            round(charEntropy(col("text")), 6).as("entropy_bits"))
          .withColumn("band",
            when(col("entropy_bits") < 4.0, "low")
              .when(col("entropy_bits") > 4.15, "high")
              .otherwise("mid"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
             |  list_filter(regexp_split_to_array(text, ''), x -> x <> '')
             |    AS chs
             | FROM documents),
             |e AS (SELECT doc_id,
             |  CASE WHEN len(chs) = 0 THEN 0.0
             |  ELSE ROUND(list_sum(list_transform(list_distinct(chs),
             |    ch -> -(len(list_filter(chs, x -> x = ch)) /
             |        CAST(len(chs) AS DOUBLE)) *
             |      log2(len(list_filter(chs, x -> x = ch)) /
             |        CAST(len(chs) AS DOUBLE)))), 6) END AS entropy_bits
             | FROM c)
             |SELECT doc_id, entropy_bits,
             | CASE WHEN entropy_bits < 4.0 THEN 'low'
             |      WHEN entropy_bits > 4.15 THEN 'high'
             |      ELSE 'mid' END AS band
             |FROM e ORDER BY doc_id""".stripMargin)),

    // ---- Document chunking: fixed token windows with overlap — the
    // preprocessing step both RAG indexing and long-document training
    // use (production shape: 512-token windows, 64 overlap; the gate
    // runs 32/8 so the 10-99-token corpus actually exercises multi-chunk
    // spans). Emits one row per chunk with its token span; the last
    // chunk is short by construction, never dropped. Pure projection +
    // explode(sequence(...)) — the Generate sits inside the scan stage,
    // so at 100 TB this is a map-only pass with no shuffle at all (the
    // oracle mirrors it with unnest(range(...))).
    Q("t13_chunking",
      (s, dir) => {
        val size = 32
        val stride = 24 // size - overlap(8)
        val nChunks = when(col("toks") === 0, 0L).otherwise(
          lit(1L) + floor(greatest(col("toks") - size, lit(0))
            .cast("double") / stride).cast("long"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).cast("long")
            .as("toks"))
          .withColumn("n_chunks", nChunks)
          // Guard before the explode: sequence(0, -1) would descend.
          .filter(col("n_chunks") > 0)
          .select(col("doc_id"), col("toks"), col("n_chunks"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
          .select(col("doc_id"), col("n_chunks"), col("chunk_id"),
            (col("chunk_id") * stride).as("tok_start"),
            least(col("chunk_id") * stride + size, col("toks"))
              .as("tok_end"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(regexp_split_to_array(trim(text), '\s+'))
             |       END AS BIGINT) toks
             | FROM documents),
             |n AS (SELECT doc_id, toks,
             |  CASE WHEN toks = 0 THEN 0
             |       ELSE 1 + CAST(FLOOR(GREATEST(toks - 32, 0) / 24.0)
             |         AS BIGINT) END AS n_chunks
             | FROM t),
             |c AS (SELECT doc_id, toks, n_chunks,
             |  unnest(range(0, n_chunks)) AS chunk_id
             | FROM n WHERE n_chunks > 0)
             |SELECT doc_id, n_chunks, chunk_id,
             | chunk_id * 24 AS tok_start,
             | LEAST(chunk_id * 24 + 32, toks) AS tok_end
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- Sequence packing (concat-and-chunk): documents laid end to
    // end in doc_id order, the token stream cut into 2048-token training
    // sequences; the gate emits the per-pack shard manifest. The Spark
    // side runs [[Packing.packAssignments]]'s two-phase distributed
    // prefix sum (NO single-task global window — see Packing.scala);
    // the oracle is the naive global window, which DuckDB can afford at
    // gate scale. Equality IS the check that the distributed offsets
    // compose to the exact global running count.
    Q("t11_sequence_packing",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).as("toks"))
        Packing.packAssignments(docs, "doc_id", "toks", 2048)
          .groupBy(col("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).cast("long").as("pack_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("pack_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END toks
             | FROM documents),
             |c AS (SELECT doc_id, toks,
             |  CAST(SUM(toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum
             | FROM t)
             |SELECT (cum - toks) // 2048 AS pack_id,
             | COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS pack_tokens,
             | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin)),

    // Duplicate n-gram fraction — the n-gram-level Gopher repetition rule
    // (t12's dup_line_frac is its line-level sibling): the fraction of a
    // doc's word 3-grams that are repeats of an earlier one. Boilerplate
    // and template spam score high; the standard pretraining filter drops
    // docs past ~0.2. Entirely row-local over the native WordShingles
    // kernel (one pass, duplicates preserved) — a scan with no shuffle
    // beyond the gate's sort; counts are integers so the fraction is
    // engine-identical before the 6dp round.
    Q("t17_dup_ngram_frac",
      (s, dir) => {
        // WordShingles emits the shingle SET (first-occurrence order), so
        // it IS the distinct count; the total is arithmetic on the word
        // count. Words = NON-EMPTY \s+ tokens — counted that way rather
        // than via trim: Column trim strips only ASCII space while the
        // kernel's String.trim strips \n/\t too, and split keeps empty
        // edge tokens, so a doc with leading/trailing non-space
        // whitespace would otherwise over-count vs both the kernel and
        // the oracle (which filters empties identically).
        val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            greatest(size(words) - 2, lit(0)).as("n_3grams"),
            size(wordShingles(col("text"), 3)).as("n_distinct"))
          .withColumn("dup_frac",
            when(col("n_3grams") > 0,
              round((col("n_3grams") - col("n_distinct")).cast("double") /
                col("n_3grams"), 6))
              .otherwise(0.0))
          .withColumn("keep", col("dup_frac") <= 0.2)
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
             |      AS words
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, list_transform(
             |    range(0, GREATEST(0, len(words) - 2)),
             |    i -> words[CAST(i + 1 AS INT)] || ' ' ||
             |         words[CAST(i + 2 AS INT)] || ' ' ||
             |         words[CAST(i + 3 AS INT)]) AS grams
             |  FROM w),
             |c AS (
             |  SELECT doc_id, len(grams) AS n_3grams,
             |    len(list_distinct(grams)) AS n_distinct
             |  FROM g)
             |SELECT doc_id, n_3grams, n_distinct,
             |  CASE WHEN n_3grams > 0 THEN
             |    ROUND(CAST(n_3grams - n_distinct AS DOUBLE) / n_3grams, 6)
             |  ELSE 0.0 END AS dup_frac,
             |  CASE WHEN n_3grams > 0 THEN
             |    ROUND(CAST(n_3grams - n_distinct AS DOUBLE) / n_3grams, 6)
             |  ELSE 0.0 END <= 0.2 AS keep
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Rare-word ratio — the corpus-level quality/memorization proxy
    // (boilerplate scores ~0 rare words; unique content scores high):
    // per-document fraction of DISTINCT words whose document frequency
    // is 1 across the corpus. One explode + word-df aggregate + join
    // back — two key shuffles total; the df frame is |vocabulary|, not
    // |corpus|, and the 0/1 indicator average divides exact integer
    // sums, so the ratio is engine-identical before the 6dp round.
    Q("t16_rare_word_ratio",
      (s, dir) => {
        val words = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .filter(length(col("w")) > 0)
        val wordDf = words.groupBy(col("w"))
          .agg(count(lit(1)).as("df")) // words pre-deduped per doc
        words.join(wordDf, "w")
          .groupBy(col("doc_id"))
          .agg(
            round(avg((col("df") === 1).cast("double")), 6)
              .as("rare_ratio"),
            count(lit(1)).as("n_distinct"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) w
             |  FROM documents),
             |w2 AS (SELECT * FROM w WHERE length(w) > 0),
             |f AS (SELECT w, COUNT(*) df FROM w2 GROUP BY w)
             |SELECT doc_id,
             | ROUND(AVG(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6)
             |   AS rare_ratio,
             | COUNT(*) AS n_distinct
             |FROM w2 JOIN f USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Learned BPE (the real merge-table tokenizer — see [[Bpe]]): train
    // 20 merges on the corpus vocabulary, replay them over whole
    // documents, emit per-doc token count + segmentation md5. The oracle
    // RETRAINS the same 20 merges in SQL (20 unrolled iterations over
    // the vocabulary, MATERIALIZED CTEs so the chain evaluates once) and
    // replays them with the same left-to-right non-overlapping
    // `replace` — an exact oracle for a trained tokenizer.
    Q("t18_bpe_learned",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = graft.operators.Bpe.trainMerges(docs, "text", 20)
        val seg = graft.operators.Bpe.segmented(docs, "text", merges)
        docs.select(col("doc_id"), seg.as("rep"))
          .select(col("doc_id"),
            when(col("rep").isNull, lit(0L))
              .otherwise(graft.operators.Bpe.tokenCountOf(col("rep"))
                .cast("long")).as("bpe_tokens"),
            md5(col("rep")).as("seg_md5"))
          .orderBy(col("doc_id"))
      },
      Some(bpeOracle(20))),

    // Persisted tokenizer lifecycle ([[Bpe.persistMerges]]/
    // [[Bpe.loadMerges]]): train on a FROZEN history slice (the first
    // 80% of the id range), persist the merge table through the
    // engine's atomic full-refresh sink, load it back, and apply it
    // map-only to the WHOLE corpus — new batches never retrain (a
    // retrain would silently shift token boundaries across shards; the
    // persisted table makes the tokenizer a versioned artifact with
    // time travel like any other relation). The oracle retrains the
    // same 20 merges on the same slice in SQL and applies them to every
    // document — so persist→load must be a faithful round trip AND the
    // application must be training-set-independent.
    Q("t19_bpe_persisted",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 4 / 5
        val merges = graft.operators.Bpe.trainMerges(
          docs.filter(col("doc_id") <= cut), "text", 20)
        graft.operators.Bpe.persistMerges(s, "tokenizer.merges", merges)
        val loaded = graft.operators.Bpe.loadMerges(s, "tokenizer.merges")
        val seg = graft.operators.Bpe.segmented(docs, "text", loaded)
        docs.select(col("doc_id"), seg.as("rep"))
          .select(col("doc_id"),
            when(col("rep").isNull, lit(0L))
              .otherwise(graft.operators.Bpe.tokenCountOf(col("rep"))
                .cast("long")).as("bpe_tokens"),
            md5(col("rep")).as("seg_md5"))
          .orderBy(col("doc_id"))
      },
      Some(bpeOracle(20,
        "doc_id <= (SELECT MAX(doc_id) * 4 // 5 FROM documents)"))),

    // Cross-document gram NOVELTY (the C4/RefinedWeb span-dedup signal
    // at corpus level): for each document, the fraction of its distinct
    // word 3-grams whose FIRST corpus occurrence (min doc_id) is this
    // document — boilerplate-heavy docs score low, the per-doc signal a
    // dedup-aware sampler weights by. One inverted-index shuffle on the
    // gram (the d09 shape: grams equi-join, never doc×doc) plus one
    // per-doc aggregate; docs with fewer than 3 tokens have no grams
    // and no row, identically in both engines.
    Q("t20_novel_gram_fraction",
      (s, dir) => {
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(wordShingles(col("text"), 3)).as("gram"))
        val firstOwner = grams.groupBy(col("gram"))
          .agg(min(col("doc_id")).as("first_doc"))
        grams.join(firstOwner, "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            round(col("n_novel") / col("n_grams"), 6).as("novel_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
             |  FROM documents WHERE length(trim(text)) > 0),
             |g AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(w)-1),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) gram
             |  FROM toks WHERE len(w) >= 3),
             |f AS (SELECT gram, MIN(doc_id) first_doc FROM g GROUP BY gram)
             |SELECT doc_id, COUNT(*) AS n_grams,
             |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_novel,
             |  ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             |    / COUNT(*), 6) AS novel_frac
             |FROM g JOIN f USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // MODEL-BASED quality scoring ([[classifierLogitNum]])
    // — the fastText-supervised stage of published pretraining recipes
    // (CCNet/LLaMA-style), next to the heuristic tiers (t12 Gopher, t14
    // entropy, t16 rare-word): hashed lexical features (lowercased
    // unigrams + bigrams), a frozen md5-derived integer weight per
    // feature, a per-doc mean-weight logit, and the keep decision at
    // score > -0.15 — all integer arithmetic through the threshold
    // (cross-multiplied, never a float compare), the score/probability
    // reported at the repo's 6dp cross-engine contract. Map-only: the
    // whole stage fuses into the scan projection — no shuffle, no
    // vocabulary broadcast, the 100 TB cost is the scan itself.
    Q("t21_model_quality",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val n = size(classifierFeatures(col("text")))
          .cast("long")
        docs.select(col("doc_id"), n.as("n_features"),
            classifierLogitNum(col("text")).as("logit_num"))
          .withColumn("score",
            round(col("logit_num") / (col("n_features") * 1000.0), 6))
          .withColumn("prob",
            round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 6))
          .withColumn("keep", classifierKeep(
            col("logit_num"), col("n_features")))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              |  FROM documents),
              |f AS (
              |  SELECT doc_id,
              |    list_transform(w, x -> 'u:' || lower(x)) ||
              |    list_transform(range(1, len(w)),
              |      i -> 'b:' || lower(w[i]) || '_' || lower(w[i+1])) AS fs
              |  FROM t),
              |sc AS (
              |  SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_features,
              |    CAST(list_sum(list_transform(fs, f ->
              |      (CAST(('0x' || substr(md5(f),1,8)) AS BIGINT) % 2001)
              |        - 1000)) AS BIGINT) AS logit_num
              |  FROM f)
              |SELECT doc_id, n_features, logit_num,
              |  ROUND(logit_num / (n_features * 1000.0), 6) AS score,
              |  ROUND(1 / (1 + exp(-ROUND(logit_num
              |    / (n_features * 1000.0), 6))), 6) AS prob,
              |  logit_num > ${ClassifierThresholdMilli}
              |    * n_features AS keep
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + host grouping ([[TextFunctions
    // .urlCanonicalize]]): the crawl-side normalization before URL-level
    // dedup — lowercase scheme/host, default ports stripped, tracking
    // params dropped, query keys sorted, fragments removed — over a
    // deterministically messy synthetic URL per document (the corpus
    // tables carry no URL column; both engines derive the same one from
    // doc_id). `domain` is the registrable-domain heuristic (last two
    // host labels) and `n_in_domain` the host-group census that
    // composes with the d06 containment tier at domain level — the
    // per-domain aggregate rides a broadcast join, not a window.
    Q("t22_url_canonical",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val idStr = col("doc_id").cast("string")
        val url = when(col("doc_id") % 3 === 0,
            concat(lit("HTTP://WWW.Example.COM:80/A/"), idStr,
              lit("?utm_source=x&b=2&a=1#frag")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("https://CDN.Example.com:443/media/"), idStr,
              lit("?id="), idStr, lit("&gclid=g123")))
          .otherwise(
            lit("https://Blog.Sample.ORG:8443/posts" +
              "?z=9&a=1&utm_campaign=c&fbclid=f"))
        val canon = docs.select(col("doc_id"), url.as("url"))
          .withColumn("canon_url",
            urlCanonicalize(col("url")))
          .withColumn("host", urlHost(col("url")))
          .withColumn("domain", urlDomain(col("url")))
        val perDomain = canon.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_in_domain"))
        canon.join(broadcast(perDomain), "domain")
          .select(col("doc_id"), col("url"), col("canon_url"),
            col("host"), col("domain"), col("n_in_domain"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/A/'
             |      || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
             |    WHEN 1 THEN 'https://CDN.Example.com:443/media/'
             |      || CAST(doc_id AS VARCHAR) || '?id='
             |      || CAST(doc_id AS VARCHAR) || '&gclid=g123'
             |    ELSE 'https://Blog.Sample.ORG:8443/posts'
             |      || '?z=9&a=1&utm_campaign=c&fbclid=f'
             |    END AS url
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, url,
             |    lower(regexp_extract(url,
             |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
             |    regexp_extract(url,
             |      '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
             |    regexp_extract(url, '\?([^#]*)', 1) AS qs
             |  FROM u),
             |c AS (
             |  SELECT doc_id, url, scheme,
             |    lower(regexp_extract(auth, '^([^:]*)', 1)) AS host,
             |    regexp_extract(auth, ':([0-9]+)$', 1) AS port, path,
             |    array_to_string(list_sort(list_filter(
             |      string_split(qs, '&'),
             |      x -> x <> '' AND NOT regexp_matches(x,
             |        '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qc
             |  FROM p),
             |r AS (
             |  SELECT doc_id, url,
             |    scheme || '://' || host ||
             |    CASE WHEN port <> '' AND NOT (
             |        (scheme = 'http' AND port = '80')
             |        OR (scheme = 'https' AND port = '443'))
             |      THEN ':' || port ELSE '' END ||
             |    path || CASE WHEN qc <> '' THEN '?' || qc ELSE '' END
             |      AS canon_url,
             |    host,
             |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
             |  FROM c)
             |SELECT doc_id, url, canon_url, host, domain,
             |  COUNT(*) OVER (PARTITION BY domain) AS n_in_domain
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Unigram-LM SURPRISAL scoring — the perplexity-filter tier of
    // published recipes (CCNet trains KenLM and keeps the middle of the
    // perplexity distribution; the unigram LM is that stage's exactly
    // replayable core): p(w) = tf(w)/N over the corpus itself, per-doc
    // score = mean −ln p(w). Boilerplate-heavy docs score LOW (their
    // words are corpus-frequent), gibberish scores HIGH — the
    // distribution's two cut tails. Float discipline: each term is
    // ln(N/tf) ROUNDED AT 12dp then summed as DECIMAL(28,12) — exact,
    // order-independent — and only the final mean divides as double
    // (rounded 6dp, the repo's cross-engine contract); a 1-ulp ln()
    // divergence between engines sits 3 decimal orders below the 12dp
    // cut. Scale shape: one vocabulary-sized tf aggregate (map-side
    // combined), one token→tf equi-join (t16's df shape), one per-doc
    // aggregate; no windows, no broadcast of the vocabulary.
    Q("t23_unigram_surprisal",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        val tf = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val n = tf.agg(sum(col("cnt")).cast("double").as("n_total"))
        val perDoc = toks.join(tf, "word")
          .crossJoin(broadcast(n))
          .select(col("doc_id"),
            round(log(col("n_total") / col("cnt")), 12)
              .cast("decimal(28,12)").as("s"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("s")).cast("double") / count(lit(1)), 6)
              .as("surprisal"))
        docs.select(col("doc_id")).distinct()
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
          .withColumn("band",
            when(col("surprisal") < 7.0, "low")
              .when(col("surprisal") > 8.0, "high")
              .otherwise("mid"))
          .orderBy(col("doc_id"))
      },
      Some(raw"""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) word
             |  FROM documents WHERE length(trim(text)) > 0),
             |tf AS (SELECT word, COUNT(*) cnt FROM toks GROUP BY word),
             |nt AS (SELECT CAST(SUM(cnt) AS DOUBLE) n_total FROM tf),
             |sc AS (
             |  SELECT doc_id,
             |    CAST(ROUND(ln(n_total / cnt), 12) AS DECIMAL(28,12)) s
             |  FROM toks JOIN tf USING (word), nt),
             |d AS (
             |  SELECT doc_id, COUNT(*) n_tokens,
             |    ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) surprisal
             |  FROM sc GROUP BY doc_id)
             |SELECT t.doc_id,
             |  CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens,
             |  COALESCE(d.surprisal, 0.0) AS surprisal,
             |  CASE WHEN COALESCE(d.surprisal, 0.0) < 7.0 THEN 'low'
             |       WHEN COALESCE(d.surprisal, 0.0) > 8.0 THEN 'high'
             |       ELSE 'mid' END AS band
             |FROM (SELECT DISTINCT doc_id FROM documents) t
             |LEFT JOIN d USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // Bigram-LM CONDITIONAL surprisal — t23's unigram LM, one order up:
    // p(w₂|w₁) = tf(w₁w₂) / tf(w₁·) with the prefix count as the
    // normalizer (so Σ_w₂ p = 1 exactly), per-doc score = mean
    // −ln p over the doc's bigram OCCURRENCES. The conditioning
    // collapses the corpus's boilerplate (predictable continuations
    // score near 0) far harder than the unigram model — the actual
    // reason perplexity filters train n-gram LMs, not word histograms.
    // Same float discipline as t23: each ln term ROUNDED at 12dp, then
    // summed as DECIMAL(28,12) — exact, order-independent — with only
    // the final mean dividing as double at the 6dp contract. Scale
    // shape: one bigram-vocabulary-sized aggregate + its prefix
    // marginal + two occurrence→count equi-joins + one per-doc
    // aggregate; no windows, text exploded once.
    Q("t25_bigram_surprisal",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bi = docs.filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(trim(col("text")), "\\s+").as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w)-2), " +
              "i -> struct(w[i] as w1, w[i+1] as w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"),
            col("b.w2").as("w2"))
        val tf2 = bi.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cnt2"))
        val tf1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("cnt1"))
        val perDoc = bi.join(tf2, Seq("w1", "w2")).join(tf1, Seq("w1"))
          .select(col("doc_id"),
            round(log(col("cnt1").cast("double") / col("cnt2")), 12)
              .cast("decimal(28,12)").as("s"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("s")).cast("double") / count(lit(1)), 6)
              .as("surprisal"))
        docs.select(col("doc_id")).distinct()
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
          .withColumn("band",
            when(col("surprisal") < 3.37, "low")
              .when(col("surprisal") > 3.40, "high")
              .otherwise("mid"))
          .orderBy(col("doc_id"))
      },
      Some(raw"""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
             |  FROM documents WHERE length(trim(text)) > 0),
             |bi AS (
             |  SELECT doc_id, w[i] w1, w[i+1] w2
             |  FROM t, UNNEST(range(1, len(w))) AS u(i)
             |  WHERE len(w) >= 2),
             |tf2 AS (SELECT w1, w2, COUNT(*) cnt2 FROM bi GROUP BY 1, 2),
             |tf1 AS (SELECT w1, COUNT(*) cnt1 FROM bi GROUP BY 1),
             |sc AS (
             |  SELECT doc_id,
             |    CAST(ROUND(ln(CAST(cnt1 AS DOUBLE) / cnt2), 12)
             |      AS DECIMAL(28,12)) s
             |  FROM bi JOIN tf2 USING (w1, w2) JOIN tf1 USING (w1)),
             |d AS (
             |  SELECT doc_id, COUNT(*) n_bigrams,
             |    ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) surprisal
             |  FROM sc GROUP BY doc_id)
             |SELECT t2.doc_id,
             |  CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  COALESCE(d.surprisal, 0.0) AS surprisal,
             |  CASE WHEN COALESCE(d.surprisal, 0.0) < 3.37 THEN 'low'
             |       WHEN COALESCE(d.surprisal, 0.0) > 3.40 THEN 'high'
             |       ELSE 'mid' END AS band
             |FROM (SELECT DISTINCT doc_id FROM documents) t2
             |LEFT JOIN d USING (doc_id)
             |ORDER BY t2.doc_id""".stripMargin)),

    // BM25 top-k RETRIEVAL — the ranking stage of retrieval-augmented
    // curation (and of every lexical-search decontam pass): Okapi BM25
    // with k1=1.2, b=0.75 over whitespace tokens. The query set is
    // derived from the corpus itself — terms ranked 11..20 by global
    // occurrence (past the stopword head, still high-df enough that
    // every query has a full candidate list) — so the gate needs no
    // external query table and stays deterministic. Scale shape: the
    // postings list (tf) is built once (one shuffle); the 10-term query
    // list arrives via TakeOrdered(20) skipping the first 10
    // (PostingsStore.midFrequencyTerms) and is BROADCAST into the
    // postings join, so scoring is candidate-driven
    // (only the 10 terms' postings survive — never corpus²); per-doc
    // length joins on doc_id (one shuffle, candidate-sized left side);
    // the final top-5 window partitions by term (10 partitions). Float
    // discipline: idf and the saturation term are computed as ONE
    // identically-parenthesized double expression on both engines —
    // `idf * ((tf*2.2) / (tf + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl)))` —
    // then rounded at 6dp with ties broken on doc_id.
    Q("t24_bm25_topk",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        val term = tf.groupBy(col("token"))
          .agg(sum(col("tf")).as("cnt"), count(lit(1)).as("df"))
        val qterms = PostingsStore.midFrequencyTerms(term)
          .select(col("token"), col("df"))
        val stats = dl.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        tf.join(broadcast(qterms), "token")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)
              + 1.0))
          .withColumn("score",
            round(col("idf") * ((col("tf") * 2.2) /
              (col("tf") + lit(1.2) *
                (lit(1.0) - 0.75 + lit(0.75) * col("dl")
                  / col("avgdl")))), 6))
          .transform(TopK.perKey(_, Seq(col("token")),
            Seq(col("score").desc, col("doc_id")), 5, "rk"))
          .select(col("token"), col("rk"), col("doc_id"), col("tf"),
            col("score"))
          .orderBy(col("token"), col("rk"))
      },
      Some(Bm25Oracle)),

    // PERSISTED BM25 postings store ([[PostingsStore]]) — the retrieval
    // index under the same lifecycle discipline as the dedup store and
    // the ANN index: build an 80% base (one tokenization pass), APPEND
    // the remaining fifth batch-proportionally (stored text is never
    // re-tokenized), COMPACT the closed base partition, then score
    // t24's self-derived query set off the persisted rows. A document
    // lives in exactly one batch, so the partition union equals the
    // one-shot tokenization — the whole lifecycle must hash-match
    // t24's one-shot oracle over the full corpus EXACTLY, or the
    // append/compaction dropped or duplicated a posting.
    Q("t26_bm25_store",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val store = PostingsStore("bm25_store")
        val isBatch = col("doc_id") % 5 === 0
        PostingsStore.build(s, docs.filter(!isBatch), "doc_id", "text",
          store)
        PostingsStore.append(s, docs.filter(isBatch), "doc_id", "text",
          store, "b1")
        PostingsStore.compact(s, store, keep = Set("b1"))
        PostingsStore.selfTopK(s, store, k = 5)
          .orderBy(col("token"), col("rk"))
      },
      Some(Bm25Oracle)),

    // Postings-store TAKEDOWN ([[StoreRetention.deletePostings]]): the
    // verb t26's lifecycle was missing. Build 80% + append the rest,
    // then delete every doc_id ≡ 3 (mod 7) — victims land in BOTH batch
    // partitions, so the rewrite path and the partition-scoping are
    // both exercised. BM25's corpus statistics (df, n_docs, avgdl) are
    // never cached in the store, so scores SELF-HEAL: the post-delete
    // ranking must hash-match the one-shot oracle over
    // corpus-minus-victims exactly (the d12 delete discipline), query
    // terms re-derived from the SURVIVING postings.
    Q("t28_bm25_deleted",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val store = PostingsStore("bm25_del")
        val isBatch = col("doc_id") % 5 === 0
        PostingsStore.build(s, docs.filter(!isBatch), "doc_id", "text",
          store)
        PostingsStore.append(s, docs.filter(isBatch), "doc_id", "text",
          store, "b1")
        StoreRetention.deletePostings(s, store,
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
        PostingsStore.selfTopK(s, store, k = 5)
          .orderBy(col("token"), col("rk"))
      },
      Some(Bm25Oracle.replace(
        "WHERE length(trim(text)) > 0",
        "WHERE length(trim(text)) > 0 AND doc_id % 7 <> 3"))),

    // HYBRID RETRIEVAL ([[HybridRetrieval]]): reciprocal-rank fusion of
    // the lexical and semantic arms — BM25 more-like-this over each
    // seed document's token set (t24's scoring discipline) fused with
    // brute-force embedding cosine (v01's ranking) via RRF
    // `Σ 1/(60+rank)`. Each arm nominates a bounded top-20 per seed;
    // the fuse is a full-outer equi-join of two (seeds × 20)-row
    // frames, so its cost is query-bounded regardless of corpus size.
    // RRF consumes only ranks, each fused score is ONE two-operand
    // IEEE double addition — bit-identical in DuckDB, which replays
    // both arms (the t24 and v01 CTEs spliced) and the fusion in SQL.
    Q("t29_hybrid_rrf",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val emb = Tables(s, dir, "embeddings")
        val lex = HybridRetrieval.bm25MoreLikeThis(docs, "doc_id",
          "text", docs.filter(col("doc_id") < 5)
            .select(col("doc_id").as("qid")), k = 20)
        val vec = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
          .select(col("qid"), col("nid").as("doc_id"),
            col("rn").as("rank_vec"))
        HybridRetrieval.rrfFuse(lex, vec, k = 10)
          .orderBy(col("qid"), col("rk"))
      },
      Some(HybridRrfOracle)),

    // Score-INTERPOLATION hybrid fusion ([[HybridRetrieval
    // .interpolateFuse]]) — the convex-blend alternative to t29's
    // rank-only RRF: each arm's scores min-max normalize within the
    // per-query top-20, the fused score is the equal-weight blend.
    // Same candidate-bounded arms; the only new arithmetic is one
    // exact subtraction + one IEEE division per row (12dp) and one
    // addition + exact halving (6dp), so the oracle replays the blend
    // bit-for-bit — fusion on SCORES stays exactly checkable, not
    // just fusion on ranks.
    Q("t30_hybrid_interpolation",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val emb = Tables(s, dir, "embeddings")
        val lex = HybridRetrieval.bm25MoreLikeThis(docs, "doc_id",
          "text", docs.filter(col("doc_id") < 5)
            .select(col("doc_id").as("qid")), k = 20)
        val vec = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 20)
          .select(col("qid"), col("nid").as("doc_id"), col("sim"))
        HybridRetrieval.interpolateFuse(lex, vec, k = 10)
          .orderBy(col("qid"), col("rk"))
      },
      Some(HybridInterpOracle)),

    // Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai & Lafferty,
    // SIGIR 2001) — the other published lexical baseline next to
    // t24's BM25, and the one n-gram LM pipelines reach for: rank by
    // sum_q ln p(q|d) under p(w|d) = (tf + mu*p(w|C)) / (dl + mu),
    // mu = 2000. The score DECOMPOSES into a matched-terms-only sum
    // ln(1 + tf*C/(mu*cf)) plus |q| * ln(mu/(dl+mu)) — which is what
    // keeps it candidate-driven: only docs sharing >= 1 query term
    // are scored (the standard IR candidate convention; the
    // doc-length term alone never promotes a no-match doc into a
    // top-k that matters). Float discipline: each ln is a
    // 12dp-rounded double over exact integer ratios, summed as exact
    // decimal; |q| * lengthTerm is integer x decimal; the output
    // serializes the 6dp score in integer MICRO-units — no decimal
    // and no decimal-to-double cast ever leaves the frame. Ranking
    // is one keyless TopK.perKey, which Catalyst plans as a
    // TakeOrdered(10): each map partition keeps its own top 10, so the
    // corpus-sized candidate list of mid-frequency query terms never
    // serializes into one task.
    Q("t31_query_likelihood",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        val term = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
        // t24's mid-frequency query set (corpus-count ranks 11-20),
        // carrying cnt = collection frequency for the smoothing term.
        val qterms = PostingsStore.midFrequencyTerms(term)
          .select(col("token"), col("cnt"))
        val cc = tf.agg(sum(col("tf")).as("C"))
        val m = tf.join(broadcast(qterms), "token")
          .crossJoin(broadcast(cc))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("matched"),
            sum(round(log(lit(1.0) +
                (col("tf") * col("C")).cast("double") /
                (lit(2000L) * col("cnt")).cast("double")), 12)
              .cast("decimal(20,12)")).as("msum"))
        val scored = m.join(dl, "doc_id")
          .withColumn("score", col("msum") +
            lit(10) *
              round(log(lit(2000.0) / (col("dl") + lit(2000))), 12)
                .cast("decimal(20,12)"))
        TopK.perKey(scored, Nil, Seq(col("score").desc, col("doc_id")),
            10, "rk")
          .select(col("rk"), col("doc_id"), col("matched"),
            (round(col("score"), 6) * lit(1000000)).cast("long")
              .as("ql_micro"))
          .orderBy(col("rk"))
      },
      Some(QueryLikelihoodOracle)),

    // CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): the
    // corpus splits into head/middle/tail THIRDS by per-doc mean
    // unigram surprisal — the corpus-RELATIVE quality tiers CCNet
    // filters on, vs t23's fixed thresholds. The global rank comes
    // from the keyed two-phase prefix sum over a range partitioning
    // ([[Packing.keyedCumSum]] with one key and a unit weight — an
    // exact distributed rank, the p05 discipline), NOT a single-
    // partition window: at 100 TB the sort is range-parallel and the
    // driver sees only one subtotal per partition. Bucket arithmetic
    // is pure integers (`rank·3 div N`); the oracle replays it under
    // ROW_NUMBER (DuckDB-only). Surprisal itself is t23's arithmetic,
    // so the two gates agree on the score to the bit.
    Q("t27_ppl_buckets",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        val tf = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val n = tf.agg(sum(col("cnt")).cast("double").as("n_total"))
        val perDoc = toks.join(tf, "word")
          .crossJoin(broadcast(n))
          .select(col("doc_id"),
            round(log(col("n_total") / col("cnt")), 12)
              .cast("decimal(28,12)").as("s"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("s")).cast("double") / count(lit(1)), 6)
              .as("surprisal"))
        // Persisted: the count() below and keyedCumSum's range
        // partitioning BOTH execute this plan — unpersisted, the whole
        // tokenize/tf-join/surprisal pipeline ran twice (the d25
        // redundant-work lesson, flagged by the r15 review).
        val full = graft.core.Caches.persist(
          docs.select(col("doc_id")).distinct()
            .join(perDoc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
              coalesce(col("surprisal"), lit(0.0)).as("surprisal")))
        // Bounded driver scalar: the doc count (the oracle's COUNT(*)
        // scalar subquery).
        val nDocs = full.count()
        val ranked = Packing.keyedCumSum(
          full.withColumn("__key", lit("all"))
            .withColumn("__ord",
              struct(col("surprisal"), col("doc_id")))
            .withColumn("__one", lit(1L)),
          "__key", "__ord", "__one")
        ranked.select(col("doc_id"), col("n_tokens"), col("surprisal"),
            when(expr(s"(cum_before * 3) div ${nDocs}L") === 0, "head")
              .when(expr(s"(cum_before * 3) div ${nDocs}L") === 1,
                "middle")
              .otherwise("tail").as("ppl_bucket"))
          .orderBy(col("doc_id"))
      },
      Some(raw"""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) word
             |  FROM documents WHERE length(trim(text)) > 0),
             |tf AS (SELECT word, COUNT(*) cnt FROM toks GROUP BY word),
             |nt AS (SELECT CAST(SUM(cnt) AS DOUBLE) n_total FROM tf),
             |sc AS (
             |  SELECT doc_id,
             |    CAST(ROUND(ln(n_total / cnt), 12) AS DECIMAL(28,12)) s
             |  FROM toks JOIN tf USING (word), nt),
             |d AS (
             |  SELECT doc_id, COUNT(*) n_tokens,
             |    ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) surprisal
             |  FROM sc GROUP BY doc_id),
             |fin AS (
             |  SELECT t.doc_id,
             |    CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens,
             |    COALESCE(d.surprisal, 0.0) AS surprisal
             |  FROM (SELECT DISTINCT doc_id FROM documents) t
             |  LEFT JOIN d USING (doc_id)),
             |nd AS (SELECT COUNT(*) n FROM fin),
             |r AS (
             |  SELECT doc_id, n_tokens, surprisal,
             |    ROW_NUMBER() OVER (ORDER BY surprisal, doc_id) - 1 rk
             |  FROM fin)
             |SELECT doc_id, n_tokens, surprisal,
             |  CASE (rk * 3) // nd.n
             |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
             |    ELSE 'tail' END AS ppl_bucket
             |FROM r, nd ORDER BY doc_id""".stripMargin))
  )

  /** t24's one-shot Okapi BM25 oracle — shared verbatim by t26 (the
    * persisted-store lifecycle must reproduce the one-shot ranking to
    * the bit). */
  private[graft] val Bm25Oracle: String =
    raw"""WITH d AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE length(trim(text)) > 0),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |  FROM d),
             |tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             |term AS (
             |  SELECT token, SUM(tf) AS cnt, COUNT(*) AS df
             |  FROM tf GROUP BY 1),
             |q AS (
             |  SELECT token, df FROM (
             |    SELECT token, df,
             |      ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS r
             |    FROM term) WHERE r > 10 AND r <= 20),
             |st AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
             |  FROM dl),
             |sc AS (
             |  SELECT tf.token, tf.doc_id, tf.tf,
             |    ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
             |      ((tf.tf * 2.2) /
             |       (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))),
             |      6) AS score
             |  FROM tf JOIN q USING (token) JOIN dl USING (doc_id), st),
             |r AS (
             |  SELECT token, doc_id, tf, score,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY token ORDER BY score DESC, doc_id) AS rk
             |  FROM sc)
             |SELECT token, rk, doc_id, CAST(tf AS BIGINT) AS tf, score
             |FROM r WHERE rk <= 5 ORDER BY token, rk""".stripMargin

  /** The t29 oracle: both retrieval arms replayed in SQL — BM25
    * more-like-this (the [[Bm25Oracle]] scoring CTEs with the seed
    * documents' distinct tokens as the query sets) and brute-force
    * cosine (the v01 CTEs) — then reciprocal-rank fusion, each fused
    * score one two-operand IEEE double addition. */
  /** The two retrieval arms shared by the hybrid-fusion oracles
    * (t29/t30): BM25 scores of every document against each seed's
    * token set (`sc`, exact decimal) and pairwise cosine sims
    * (`vp`, 6dp double) — everything up to, but not including, the
    * per-arm ranking. */
  private val HybridArmsCtes: String =
    raw"""d AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE length(trim(text)) > 0),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |  FROM d),
             |tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             |term AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
             |  FROM dl),
             |qtok AS (
             |  SELECT DISTINCT doc_id AS qid, token FROM tf
             |  WHERE doc_id < 5),
             |sc AS (
             |  SELECT q.qid, tf.doc_id,
             |    SUM(CAST(ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
             |      ((tf.tf * 2.2) /
             |       (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))),
             |      6) AS DECIMAL(18,6))) AS score
             |  FROM tf
             |  JOIN qtok q USING (token)
             |  JOIN term USING (token)
             |  JOIN dl ON dl.doc_id = tf.doc_id, st
             |  WHERE tf.doc_id <> q.qid
             |  GROUP BY 1, 2),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm
             |  FROM e),
             |vp AS (
             |  SELECT q.vec_id qid, c.vec_id doc_id,
             |    ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) sim
             |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)""".stripMargin

  private[graft] val HybridRrfOracle: String =
    s"""WITH $HybridArmsCtes,
             |lex AS (
             |  SELECT qid, doc_id, rank_lex FROM (
             |    SELECT qid, doc_id, ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rank_lex
             |    FROM sc) WHERE rank_lex <= 20),
             |vec AS (
             |  SELECT qid, doc_id, rank_vec FROM (
             |    SELECT qid, doc_id, ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY sim DESC, doc_id) AS rank_vec
             |    FROM vp) WHERE rank_vec <= 20),
             |fused AS (
             |  SELECT COALESCE(l.qid, v.qid) AS qid,
             |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
             |    -- CAST: a bare 1.0 literal is DECIMAL in DuckDB; the
             |    -- division must be IEEE double to match Spark's.
             |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rank_lex),
             |            CAST(0.0 AS DOUBLE)) +
             |          COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rank_vec),
             |            CAST(0.0 AS DOUBLE)), 6) AS rrf,
             |    COALESCE(l.rank_lex, 0) AS rank_lex,
             |    COALESCE(v.rank_vec, 0) AS rank_vec
             |  FROM lex l FULL OUTER JOIN vec v
             |    ON l.qid = v.qid AND l.doc_id = v.doc_id),
             |ranked AS (
             |  SELECT qid, doc_id, rrf, rank_lex, rank_vec,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rk
             |  FROM fused)
             |SELECT qid, rk, doc_id, rrf,
             |  CAST(rank_lex AS BIGINT) AS rank_lex,
             |  CAST(rank_vec AS BIGINT) AS rank_vec
             |FROM ranked WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** DuckDB replay of t31: same tokenization/tf/dl CTEs as the BM25
    * oracles, the same rank-11..20 query set, then the decomposed
    * Dirichlet score — matched-term lns and the doc-length term each
    * 12dp-rounded doubles cast to exact decimal, blended with integer
    * arithmetic, serialized at 6dp in integer micro-units. */
  private[graft] val QueryLikelihoodOracle: String =
    raw"""WITH d AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE length(trim(text)) > 0),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |  FROM d),
             |tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             |term AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY 1),
             |q AS (
             |  SELECT token, cnt FROM (
             |    SELECT token, cnt, ROW_NUMBER() OVER (
             |      ORDER BY cnt DESC, token) AS r
             |    FROM term) WHERE r > 10 AND r <= 20),
             |cc AS (SELECT SUM(tf) AS C FROM tf),
             |m AS (
             |  SELECT tf.doc_id, COUNT(*) AS matched,
             |    SUM(CAST(ROUND(ln(CAST(1.0 AS DOUBLE) +
             |      CAST(tf.tf * cc.C AS DOUBLE) /
             |      CAST(2000 * q.cnt AS DOUBLE)), 12)
             |      AS DECIMAL(20,12))) AS msum
             |  FROM tf JOIN q USING (token), cc
             |  GROUP BY 1),
             |sc AS (
             |  SELECT m.doc_id, m.matched,
             |    m.msum + 10 * CAST(ROUND(ln(CAST(2000 AS DOUBLE) /
             |      (dl.dl + 2000)), 12) AS DECIMAL(20,12)) AS score
             |  FROM m JOIN dl USING (doc_id)),
             |ranked AS (
             |  SELECT doc_id, matched, score,
             |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM sc)
             |SELECT rk, doc_id, matched,
             |  CAST(ROUND(score, 6) * 1000000 AS BIGINT) AS ql_micro
             |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** DuckDB replay of [[HybridRetrieval.interpolateFuse]] over the
    * shared arms: per-arm top-20 (same rankings t29 proved), min-max
    * over each per-query list, 12dp-normalized, equal-weight blend at
    * 6dp — each arithmetic step mirrors the Spark expression shape
    * exactly (decimal subtraction then double division for the lex
    * arm; double throughout for the vec arm). */
  private[graft] val HybridInterpOracle: String =
    s"""WITH $HybridArmsCtes,
             |lexk AS (
             |  SELECT qid, doc_id, score FROM (
             |    SELECT qid, doc_id, score, ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
             |    FROM sc) WHERE rnk <= 20),
             |lmm AS (
             |  SELECT qid, MIN(score) mn, MAX(score) mx
             |  FROM lexk GROUP BY 1),
             |lnorm AS (
             |  SELECT l.qid, l.doc_id,
             |    CASE WHEN mx > mn THEN
             |      ROUND(CAST(l.score - mn AS DOUBLE) /
             |            CAST(mx - mn AS DOUBLE), 12)
             |    ELSE CAST(1.0 AS DOUBLE) END AS nl
             |  FROM lexk l JOIN lmm USING (qid)),
             |veck AS (
             |  SELECT qid, doc_id, sim FROM (
             |    SELECT qid, doc_id, sim, ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY sim DESC, doc_id) AS rnk
             |    FROM vp) WHERE rnk <= 20),
             |vmm AS (
             |  SELECT qid, MIN(sim) mn, MAX(sim) mx
             |  FROM veck GROUP BY 1),
             |vnorm AS (
             |  SELECT v.qid, v.doc_id,
             |    CASE WHEN mx > mn THEN
             |      ROUND(CAST(v.sim - mn AS DOUBLE) /
             |            CAST(mx - mn AS DOUBLE), 12)
             |    ELSE CAST(1.0 AS DOUBLE) END AS nv
             |  FROM veck v JOIN vmm USING (qid)),
             |fused AS (
             |  SELECT COALESCE(l.qid, v.qid) AS qid,
             |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
             |    ROUND((COALESCE(l.nl, CAST(0.0 AS DOUBLE)) +
             |           COALESCE(v.nv, CAST(0.0 AS DOUBLE))) /
             |          CAST(2.0 AS DOUBLE), 6) AS mix,
             |    ROUND(COALESCE(l.nl, CAST(0.0 AS DOUBLE)), 6)
             |      AS norm_lex,
             |    ROUND(COALESCE(v.nv, CAST(0.0 AS DOUBLE)), 6)
             |      AS norm_vec
             |  FROM lnorm l FULL OUTER JOIN vnorm v
             |    ON l.qid = v.qid AND l.doc_id = v.doc_id),
             |ranked AS (
             |  SELECT qid, doc_id, mix, norm_lex, norm_vec,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY qid ORDER BY mix DESC, doc_id) AS rk
             |  FROM fused)
             |SELECT qid, rk, doc_id, mix, norm_lex, norm_vec
             |FROM ranked WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** DuckDB replay of [[Bpe]]: unrolled training (v0 → … → vN with the
    * argmax pair bN per step) + the same merge-literal replace chain
    * applied to whole documents. Every CTE is MATERIALIZED — the bN
    * scalar subqueries are referenced many times, and an inlining
    * planner would otherwise expand the chain exponentially.
    *
    * [[Bpe.trainMerges]] stops early when the vocabulary exhausts
    * (every word one symbol) — then b_{k+1}.. are EMPTY and their
    * scalar subqueries NULL, which unguarded would NULL-cascade through
    * every later replace and zero the whole oracle output. Each
    * iteration COALESCEs pattern and replacement to the same impossible
    * literal (`␟␟` — symbols are non-empty, and identical pattern/
    * replacement is an identity replace regardless), so exhausted
    * iterations are exact no-ops, mirroring the Spark side's absent
    * merges. */
  private def bpeOracle(n: Int, trainPred: String = "TRUE"): String = {
    val S = graft.operators.Bpe.Sep
    s"""WITH ${bpeTrainCtes(n, trainPred)},
       |seg AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN NULL
       |         ELSE ${bpeAppliedExpr(n)} END AS rep
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN rep IS NULL THEN 0
       |       ELSE len(list_filter(string_split(trim(rep, '$S'), '$S'),
       |                            s -> s <> ' ')) END AS bpe_tokens,
       |  md5(rep) AS seg_md5
       |FROM seg ORDER BY doc_id""".stripMargin
  }

  /** The unrolled-training half of [[bpeOracle]] — `v0 … b$n` CTE text
    * (no WITH keyword), shared with the p15 tokenized-shards oracle. */
  private[operators] def bpeTrainCtes(n: Int,
      trainPred: String = "TRUE"): String = {
    val S = graft.operators.Bpe.Sep
    val ctes = new StringBuilder(
      s"""v0 AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS cnt,
         |    '$S' || array_to_string(string_split(word, ''), '$S') || '$S'
         |      AS rep
         |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
         |          AS word
         |        FROM documents
         |        WHERE length(trim(text)) > 0 AND ($trainPred)) w
         |  GROUP BY word)""".stripMargin)
    (1 to n).foreach { i =>
      ctes.append(
        s""",
           |p$i AS MATERIALIZED (
           |  SELECT s[x] AS a, s[x+1] AS b, SUM(cnt) AS n
           |  FROM (SELECT cnt, string_split(trim(rep, '$S'), '$S') AS s
           |        FROM v${i - 1}),
           |       unnest(generate_series(1, len(s)-1)) AS t(x)
           |  GROUP BY 1, 2),
           |b$i AS MATERIALIZED (
           |  SELECT a, b FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           |v$i AS MATERIALIZED (
           |  SELECT word, cnt, replace(rep,
           |    COALESCE('$S' || (SELECT a FROM b$i) || '$S' ||
           |      (SELECT b FROM b$i) || '$S', '$S$S'),
           |    COALESCE('$S' || (SELECT a FROM b$i) ||
           |      (SELECT b FROM b$i) || '$S', '$S$S')) AS rep
           |  FROM v${i - 1})""".stripMargin)
    }
    ctes.toString
  }

  /** The application half of [[bpeOracle]] — the merge-literal replace
    * chain over `text`, as a SQL expression referencing `b1 … b$n`.
    * Shared with the p15 tokenized-shards oracle. */
  private[operators] def bpeAppliedExpr(n: Int): String = {
    val S = graft.operators.Bpe.Sep
    (1 to n).foldLeft(
      s"'$S' || array_to_string(string_split(" +
        s"regexp_replace(trim(text), '\\s+', ' ', 'g'), ''), '$S') || '$S'") {
      (acc, i) =>
        s"""replace($acc,
           |  COALESCE('$S' || (SELECT a FROM b$i) || '$S' ||
           |    (SELECT b FROM b$i) || '$S', '$S$S'),
           |  COALESCE('$S' || (SELECT a FROM b$i) ||
           |    (SELECT b FROM b$i) || '$S', '$S$S'))""".stripMargin
    }
  }
}
