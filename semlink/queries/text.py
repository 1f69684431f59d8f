"""Text analysis (datapipe): language ID, token stats, quality
score, fingerprints, TF-IDF top terms."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..datapipe import textstats as ts
from . import SCALE, _docs, _r6, q


_STOP_IN = ", ".join(f"'{w}'" for w in ts.EN_STOPWORDS)

_STOPR_SQL = f"""
  CAST(len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS DOUBLE)
  / CASE WHEN len(toks) > 0 THEN len(toks) ELSE 1 END
"""

# the 3-term quality score, shared by every oracle that grades docs
# (text_quality_score, text_token_quality, ops_corpus_report) — ONE
# definition so a formula tweak cannot desynchronize an oracle from
# ts.with_quality_score (review r5s3)
_QUALITY6_EXPR = f"""CAST(ROUND((
           0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0 THEN
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
             / length(text) ELSE 0.0 END)
         + 0.3 * least(({_STOPR_SQL}) * 3.0, 1.0)
         ) * {SCALE}) AS BIGINT)"""

_PROF_VALUES = ", ".join(
    f"('{tok}', '{lang}')"
    for lang, words in sorted(ts.LANG_STOPWORDS.items())
    for tok in sorted(set(words)))

@q("text_langid", f"""
  WITH base AS (SELECT doc_id, lang, coalesce(text, '') AS t FROM documents),
  toks AS (SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(t), ' +'),
                                     x -> x <> '')) AS tok
           FROM base),
  n AS (SELECT doc_id, count(*) AS _n FROM toks GROUP BY doc_id),
  prof(tok, plang) AS (VALUES {_PROF_VALUES}),
  hits AS (SELECT doc_id, plang, count(*) AS _h
           FROM toks JOIN prof USING (tok) GROUP BY doc_id, plang),
  stop_scores AS (SELECT h.doc_id, h.plang,
                         CAST(ROUND(CAST(_h AS DOUBLE) / greatest(_n, 1)
                                    * {SCALE}) AS BIGINT) AS score6
                  FROM hits h JOIN n USING (doc_id)),
  cjk AS (SELECT doc_id, 'cjk' AS plang,
                 CAST(ROUND(least(1.0,
                        CAST(strlen(t) - length(t) AS DOUBLE)
                        / (2.0 * greatest(length(t), 1))) * {SCALE})
                      AS BIGINT) AS score6
          FROM base),
  scores AS (SELECT * FROM stop_scores UNION ALL SELECT * FROM cjk),
  top AS (SELECT doc_id, plang, score6,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score6 DESC, plang ASC) AS rk
          FROM scores)
  SELECT b.doc_id, b.lang,
         CASE WHEN t2.score6 >= {ts.LANG_MIN_SCORE6} THEN t2.plang
              ELSE 'und' END AS lang_pred,
         coalesce(t2.score6, 0) AS top_score6
  FROM base b LEFT JOIN (SELECT * FROM top WHERE rk = 1) t2 USING (doc_id)
""")
def text_langid(spark, sf_dir):
    """Profile-based language ID (VERDICT r03 next #5): stopword-density
    argmax over the broadcast LANG_STOPWORDS dimension + the CJK
    byte-excess channel; the oracle re-derives the entire scoring
    (profile VALUES, density ratios, argmax window, 'und' threshold)
    in DuckDB."""
    from . import _docs_raw
    d = _docs_raw(spark, sf_dir)   # one explode + one combined groupBy:
    r = ts.lang_id(d)              # does not amortize the spread exchange
    return (d.select("doc_id", "lang").join(r, "doc_id")
            .select("doc_id", "lang", "lang_pred", "top_score6"))


@q("text_quality_score", f"""
  SELECT doc_id,
         {_QUALITY6_EXPR} AS quality6
  FROM (SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), ' +'),
                           x -> x <> '') AS toks
        FROM documents)
""")
def text_quality_score(spark, sf_dir):
    d = ts.with_quality_score(_docs(spark, sf_dir).drop("n_chars"))
    return d.select("doc_id", _r6(F.col("quality_score")).alias("quality6"))


@q("text_fingerprints", """
  SELECT doc_id,
         md5(regexp_replace(lower(trim(coalesce(text, ''))), ' +', ' ', 'g'))
           AS fp_exact,
         list_min(CASE WHEN len(toks) >= 4 THEN
             list_transform(generate_series(1, len(toks) - 3),
                            i -> md5(array_to_string(toks[i : i + 3], ' ')))
           ELSE [md5(array_to_string(toks, ' '))] END) AS fp_min_shingle
  FROM (SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), ' +'),
                           x -> x <> '') AS toks
        FROM documents)
""")
def text_fingerprints(spark, sf_dir):
    d = ts.with_fingerprints(_docs(spark, sf_dir))
    return d.select("doc_id", "fp_exact", "fp_min_shingle")


@q("text_tfidf_top_terms", f"""
  WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), ' +'),
                                      x -> x <> '')) AS term
    FROM documents),
  tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM toks GROUP BY 1, 2),
  dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
  nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
  scored AS (
    SELECT t.doc_id, t.term, t.tf, d.df_t,
           CAST(ROUND(CAST(t.tf AS DOUBLE) * ln(n / d.df_t) * {SCALE})
                AS BIGINT) AS tfidf6
    FROM tf t JOIN dfq d USING (term), nd)
  SELECT doc_id, term, tf, df_t, tfidf6, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf6 DESC, term) AS rk
    FROM scored)
  WHERE rk <= 5
""")
def text_tfidf_top_terms(spark, sf_dir):
    """Training-data keyword extraction: per-document top-5 terms by
    TF-IDF (textstats.tfidf_top_terms), rank and score hash-gated."""
    return ts.tfidf_top_terms(_docs(spark, sf_dir), k=5)


# ------------------------------------------------------- corpus quality
# The sf documents corpus is single-line prose, so the Gopher/C4 rule
# family (line/paragraph structure, bullets, ellipses, PII) would be
# trivially zero on it. Both engines therefore derive the SAME varied
# corpus deterministically from `documents`: literal (non-regex)
# replaces inject line/paragraph breaks at frequent vocabulary words,
# then doc_id % 7 plants the pathologies the gates exist to catch
# (bullet spam, ellipsis-spam lines, a duplicated paragraph).
# Replacement order and all constants are shared verbatim, so the
# DuckDB oracle re-derives the corpus byte-for-byte.

_BULLET_LINE = "- spark data table"
_ELLIPSIS_LINE = "see the full query plan..."
_BOILER_PARA = "the same boilerplate paragraph again"

# half the docs get a Gopher-stopword tail so the required-stopword
# gate (and therefore the composed verdict) has both outcomes on this
# synthetic vocabulary, which otherwise contains only 'the'
_STOP_TAIL = " and that have with to of"

_VARIED_SQL = f"""
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN t1 || '{_STOP_TAIL}'
              ELSE t1 END AS t
  FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN repeat('{_BULLET_LINE}' || chr(10), 4) || t0
              WHEN doc_id % 7 = 1
              THEN t0 || repeat(chr(10) || '{_ELLIPSIS_LINE}', 3)
              WHEN doc_id % 7 = 2
              THEN t0 || repeat(chr(10) || chr(10) || '{_BOILER_PARA}', 2)
              ELSE t0 END AS t1
  FROM (SELECT doc_id,
               replace(replace(coalesce(text, ''),
                               ' join ', chr(10) || chr(10) || 'join '),
                       ' data ', chr(10) || 'data ') AS t0
        FROM documents))
"""


def _varied_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    t0 = F.replace(F.replace(t, F.lit(" join "), F.lit("\n\njoin ")),
                   F.lit(" data "), F.lit("\ndata "))
    m = F.col("doc_id") % 7
    t1 = (F.when(m == 0, F.concat(F.repeat(F.lit(_BULLET_LINE + "\n"), 4), t0))
          .when(m == 1, F.concat(t0, F.repeat(F.lit("\n" + _ELLIPSIS_LINE), 3)))
          .when(m == 2, F.concat(t0, F.repeat(F.lit("\n\n" + _BOILER_PARA), 2)))
          .otherwise(t0))
    t2 = F.when(F.col("doc_id") % 2 == 0,
                F.concat(t1, F.lit(_STOP_TAIL))).otherwise(t1)
    return d.select("doc_id", t2.alias("text"))


_NS_SQL = "(VALUES (2), (3), (4)) AS ns(n)"


_REPETITION_SQL = f"""
  WITH base AS ({_VARIED_SQL}),
  lf AS (SELECT doc_id, u FROM (
           SELECT doc_id, unnest(string_split(t, chr(10))) AS u FROM base)
         WHERE u <> ''),
  lper AS (SELECT doc_id, u, count(*) AS c FROM lf GROUP BY 1, 2),
  ln AS (SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS ln_n,
                CAST(sum(c) - count(*) AS BIGINT) AS ln_dup,
                CAST(sum(c * length(u)) AS BIGINT) AS ln_chars,
                CAST(sum((c - 1) * length(u)) AS BIGINT) AS ln_dup_chars
         FROM lper GROUP BY 1),
  pf AS (SELECT doc_id, u FROM (
           SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS u
           FROM base)
         WHERE u <> ''),
  pper AS (SELECT doc_id, u, count(*) AS c FROM pf GROUP BY 1, 2),
  pp AS (SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS pp_n,
                CAST(sum(c) - count(*) AS BIGINT) AS pp_dup,
                CAST(sum(c * length(u)) AS BIGINT) AS pp_chars,
                CAST(sum((c - 1) * length(u)) AS BIGINT) AS pp_dup_chars
         FROM pper GROUP BY 1),
  tok AS (SELECT doc_id,
                 list_filter(string_split_regex(trim(t), ' +'),
                             x -> x <> '') AS toks
          FROM base),
  tc AS (SELECT doc_id,
                CAST(length(array_to_string(toks, '')) AS BIGINT) AS tokchars
         FROM tok),
  g AS (SELECT doc_id, n,
               unnest(list_transform(
                 generate_series(1, greatest(len(toks) - n + 1, 0)),
                 i -> array_to_string(toks[i : i + n - 1], ' '))) AS g
        FROM tok, {_NS_SQL}),
  cnt AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
  top AS (SELECT doc_id, n, g, c,
                 row_number() OVER (PARTITION BY doc_id, n
                                    ORDER BY c DESC, g ASC) AS rk
          FROM cnt),
  f AS (SELECT t.doc_id, n,
               CAST(ROUND(least(1.0,
                      CAST(c * (length(g) - (n - 1)) AS DOUBLE)
                      / greatest(tokchars, 1)) * {SCALE}) AS BIGINT) AS f6
        FROM top t JOIN tc USING (doc_id) WHERE rk = 1),
  piv AS (SELECT doc_id,
                 max(CASE WHEN n = 2 THEN f6 END) AS t2,
                 max(CASE WHEN n = 3 THEN f6 END) AS t3,
                 max(CASE WHEN n = 4 THEN f6 END) AS t4
          FROM f GROUP BY 1)
  SELECT b.doc_id,
         coalesce(ln_n, 0) AS n_lines,
         CAST(ROUND(CAST(coalesce(ln_dup, 0) AS DOUBLE)
                    / greatest(coalesce(ln_n, 0), 1) * {SCALE}) AS BIGINT)
           AS dup_line_frac6,
         CAST(ROUND(CAST(coalesce(ln_dup_chars, 0) AS DOUBLE)
                    / greatest(coalesce(ln_chars, 0), 1) * {SCALE}) AS BIGINT)
           AS dup_line_char_frac6,
         coalesce(pp_n, 0) AS n_paras,
         CAST(ROUND(CAST(coalesce(pp_dup, 0) AS DOUBLE)
                    / greatest(coalesce(pp_n, 0), 1) * {SCALE}) AS BIGINT)
           AS dup_para_frac6,
         CAST(ROUND(CAST(coalesce(pp_dup_chars, 0) AS DOUBLE)
                    / greatest(coalesce(pp_chars, 0), 1) * {SCALE}) AS BIGINT)
           AS dup_para_char_frac6,
         coalesce(t2, 0) AS top2gram_frac6,
         coalesce(t3, 0) AS top3gram_frac6,
         coalesce(t4, 0) AS top4gram_frac6
  FROM base b
  LEFT JOIN ln USING (doc_id) LEFT JOIN pp USING (doc_id)
  LEFT JOIN piv USING (doc_id)
"""

@q("text_repetition", _REPETITION_SQL)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (Rae et al. '21 App. A) over the
    deterministically varied corpus: duplicate-line / duplicate-
    paragraph fractions (occurrence- and character-mass-based) and
    top-{2,3,4}-gram character fractions. The oracle re-derives the
    varied corpus AND all seven metrics in DuckDB."""
    return ts.with_repetition_stats(_varied_docs(spark, sf_dir))


_STOPW_IN = ", ".join(f"'{w}'" for w in ts.GOPHER_STOPWORDS)

_HEURISTIC_SQL = f"""
  WITH base AS ({_VARIED_SQL}),
  tk AS (SELECT doc_id, unnest(list_filter(
             string_split_regex(trim(t), ' +'), x -> x <> '')) AS w
         FROM base),
  ta AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(w)) AS BIGINT) AS wchars,
                CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]')
                              THEN 1 ELSE 0 END) AS BIGINT) AS alpha_w,
                CAST(count(DISTINCT CASE WHEN w IN ({_STOPW_IN})
                                         THEN w END) AS BIGINT) AS stop_hits
         FROM tk GROUP BY 1),
  lf AS (SELECT doc_id, u FROM (
           SELECT doc_id, unnest(string_split(t, chr(10))) AS u FROM base)
         WHERE u <> ''),
  la AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS nl,
                CAST(sum(CASE WHEN starts_with(u, '- ')
                              OR starts_with(u, '* ')
                              OR starts_with(u, '•') THEN 1 ELSE 0 END)
                     AS BIGINT) AS bl,
                CAST(sum(CASE WHEN ends_with(u, '...')
                              OR ends_with(u, '…') THEN 1 ELSE 0 END)
                     AS BIGINT) AS el
         FROM lf GROUP BY 1),
  sy AS (SELECT doc_id,
                CAST((length(t) - length(replace(t, '#', '')))
                  + (length(t) - length(replace(t, '...', ''))) / 3
                  + (length(t) - length(replace(t, '…', ''))) AS BIGINT)
                  AS sym
         FROM base),
  m AS (SELECT b.doc_id, sym,
               coalesce(n_words, 0) AS n_words,
               coalesce(wchars, 0) AS wchars,
               coalesce(alpha_w, 0) AS alpha_w,
               coalesce(stop_hits, 0) AS stop_hits,
               coalesce(nl, 0) AS nl,
               coalesce(bl, 0) AS bl,
               coalesce(el, 0) AS el
        FROM base b LEFT JOIN ta USING (doc_id) LEFT JOIN la USING (doc_id)
        JOIN sy USING (doc_id)),
  r AS (SELECT doc_id, n_words, stop_hits,
               CAST(ROUND(CAST(wchars AS DOUBLE)
                          / greatest(n_words, 1) * {SCALE}) AS BIGINT)
                 AS mean_word_len6,
               CAST(ROUND(CAST(sym AS DOUBLE)
                          / greatest(n_words, 1) * {SCALE}) AS BIGINT)
                 AS symbol_ratio6,
               CAST(ROUND(CAST(bl AS DOUBLE)
                          / greatest(nl, 1) * {SCALE}) AS BIGINT)
                 AS bullet_line_frac6,
               CAST(ROUND(CAST(el AS DOUBLE)
                          / greatest(nl, 1) * {SCALE}) AS BIGINT)
                 AS ellipsis_line_frac6,
               CAST(ROUND(CAST(alpha_w AS DOUBLE)
                          / greatest(n_words, 1) * {SCALE}) AS BIGINT)
                 AS alpha_word_frac6
        FROM m),
  fl AS (SELECT *,
            CAST(n_words >= {ts.WORDS_MIN}
                 AND n_words <= {ts.WORDS_MAX} AS BIGINT) AS pass_word_count,
            CAST(mean_word_len6 >= {ts.MEAN_WORD_LEN_MIN6}
                 AND mean_word_len6 <= {ts.MEAN_WORD_LEN_MAX6} AS BIGINT)
              AS pass_mean_word_len,
            CAST(symbol_ratio6 <= {ts.SYMBOL_RATIO_MAX6} AS BIGINT)
              AS pass_symbol_ratio,
            CAST(bullet_line_frac6 <= {ts.BULLET_LINE_FRAC_MAX6} AS BIGINT)
              AS pass_bullet,
            CAST(ellipsis_line_frac6 <= {ts.ELLIPSIS_LINE_FRAC_MAX6}
                 AS BIGINT) AS pass_ellipsis,
            CAST(alpha_word_frac6 >= {ts.ALPHA_WORD_FRAC_MIN6} AS BIGINT)
              AS pass_alpha,
            CAST(stop_hits >= {ts.STOP_HITS_MIN} AS BIGINT) AS pass_stopwords
         FROM r)
  SELECT doc_id, n_words, mean_word_len6, symbol_ratio6,
         bullet_line_frac6, ellipsis_line_frac6, alpha_word_frac6,
         stop_hits, pass_alpha, pass_bullet, pass_ellipsis,
         pass_mean_word_len, pass_stopwords, pass_symbol_ratio,
         pass_word_count,
         pass_word_count * pass_mean_word_len * pass_symbol_ratio
           * pass_bullet * pass_ellipsis * pass_alpha * pass_stopwords
           AS pass_all
  FROM fl
"""

@q("text_heuristic_filters", _HEURISTIC_SQL)
def text_heuristic_filters(spark, sf_dir):
    """The C4/Gopher heuristic gate battery (Raffel et al. '20 §2.2,
    Rae et al. '21 App. A) over the varied corpus: every metric as a
    scaled bigint plus its 0/1 pass flag and the pass_all conjunction,
    each re-derived end-to-end by the DuckDB oracle."""
    return ts.with_heuristic_flags(_varied_docs(spark, sf_dir))


@q("text_pii_stats", f"""
  WITH base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '')
                  || ' contact alice.smith@example.com or bob@mail.example.org'
                WHEN doc_id % 5 = 1 THEN coalesce(text, '')
                  || ' server at 192.168.1.77 and 10.0.0.255 up'
                WHEN doc_id % 5 = 2 THEN coalesce(text, '')
                  || ' call +1-555-123-4567 today'
                ELSE coalesce(text, '') END AS t
    FROM documents)
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{ts.PII_EMAIL_RE}')) AS BIGINT)
           AS email_n,
         CAST(len(regexp_extract_all(t, '{ts.PII_IPV4_RE}')) AS BIGINT)
           AS ipv4_n,
         CAST(len(regexp_extract_all(t, '{ts.PII_PHONE_RE}')) AS BIGINT)
           AS phone_n,
         CAST((len(regexp_extract_all(t, '{ts.PII_EMAIL_RE}'))
             + len(regexp_extract_all(t, '{ts.PII_IPV4_RE}'))
             + len(regexp_extract_all(t, '{ts.PII_PHONE_RE}'))) > 0
              AS BIGINT) AS has_pii
  FROM base
""")
def text_pii_stats(spark, sf_dir):
    """Training-data hygiene: per-doc email / IPv4 / phone detection
    counts (VERDICT r04 next #8) over documents with deterministically
    planted PII (doc_id % 5 variants). Patterns shared verbatim with
    the oracle, restricted to the Java-regex ∩ RE2 common subset."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    m = F.col("doc_id") % 5
    planted = (F.when(m == 0, F.concat(t, F.lit(
                  " contact alice.smith@example.com or bob@mail.example.org")))
               .when(m == 1, F.concat(t, F.lit(
                  " server at 192.168.1.77 and 10.0.0.255 up")))
               .when(m == 2, F.concat(t, F.lit(" call +1-555-123-4567 today")))
               .otherwise(t))
    return ts.with_pii_stats(d.select("doc_id", planted.alias("text")))


# ------------------------------------------------------ consolidated
# (window-budget consolidation — see queries/rl.py note)

@q("text_token_quality", f"""
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), ' +'), x -> x <> ''))
           AS ws_tokens,
         len(regexp_extract_all(text, '{ts.WORD_RE}')) AS word_tokens,
         length(text) AS n_chars_out,
         {_QUALITY6_EXPR} AS quality6
  FROM (SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), ' +'),
                           x -> x <> '') AS toks
        FROM documents)
""")
def text_token_quality(spark, sf_dir):
    """Token stats + the 3-term quality score joined per doc in one
    entry."""
    d = _docs(spark, sf_dir).drop("n_chars")
    t = ts.with_token_stats(d).select(
        "doc_id", "ws_tokens", "word_tokens",
        F.col("n_chars").alias("n_chars_out"))
    qs = ts.with_quality_score(d).select(
        "doc_id", _r6(F.col("quality_score")).alias("quality6"))
    return t.join(qs, "doc_id")


@q("text_corpus_filter", f"""
  SELECT doc_id, pass_heuristics, pass_repetition,
         pass_heuristics * pass_repetition AS keep
  FROM (
    SELECT h.doc_id,
           h.pass_all AS pass_heuristics,
           CAST(r.dup_line_frac6 <= {ts.DUP_LINE_FRAC_MAX6}
                AND r.dup_para_frac6 <= {ts.DUP_PARA_FRAC_MAX6}
                AND r.dup_line_char_frac6 <= {ts.DUP_LINE_CHAR_FRAC_MAX6}
                AND r.dup_para_char_frac6 <= {ts.DUP_PARA_CHAR_FRAC_MAX6}
                AND r.top2gram_frac6 <= {ts.TOP2GRAM_FRAC_MAX6}
                AND r.top3gram_frac6 <= {ts.TOP3GRAM_FRAC_MAX6}
                AND r.top4gram_frac6 <= {ts.TOP4GRAM_FRAC_MAX6} AS BIGINT)
             AS pass_repetition
    FROM ({_HEURISTIC_SQL}) h JOIN ({_REPETITION_SQL}) r USING (doc_id))
""")
def text_corpus_filter(spark, sf_dir):
    """The composed curation verdict (heuristic battery × Gopher
    repetition gates → keep/drop) over the varied corpus — the DuckDB
    oracle reuses both family bodies as subqueries, so the composition
    is hash-gated end-to-end like dedup_near_dup_clusters."""
    return ts.corpus_filter(_varied_docs(spark, sf_dir))


_LM_SQL = """
  WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), ' +'),
                       x -> x <> '') AS toks
    FROM documents),
  idx AS (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - 1)) AS i
          FROM t WHERE len(toks) >= 2),
  bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
  c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
  c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
  v AS (SELECT count(DISTINCT tok) AS v
        FROM (SELECT unnest(toks) AS tok FROM t)),
  term AS (
    SELECT doc_id,
           CAST(ROUND(-ln(CAST(c2.c2 + 1 AS DOUBLE)
                          / CAST(c1.c1 + v.v AS DOUBLE)) * 1000000)
                AS BIGINT) AS nll6
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(nll6) AS BIGINT) AS nll6_sum,
         CAST(CAST(sum(nll6) AS BIGINT) // CAST(count(*) AS BIGINT)
              AS BIGINT) AS nll6_avg
  FROM term GROUP BY doc_id
"""


@q("text_lm_perplexity", _LM_SQL)
def text_lm_perplexity(spark, sf_dir):
    """Corpus bigram-LM self-perplexity per document (lm.with_lm_nll)
    — the CCNet-style quality signal, add-one smoothed, per-term
    scaled-bigint quantization so both engines aggregate exact
    integers. Registry + pytest + oracle verified on demand; demoted
    from the driver window (see __spark_entry__)."""
    from ..datapipe.lm import with_lm_nll
    return with_lm_nll(_docs(spark, sf_dir))


@q("text_novelty", """
  WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), ' +'),
                       x -> x <> '') AS toks
    FROM documents),
  sh0 AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i : i + 2], ' '))
           ELSE [array_to_string(toks, ' ')] END AS sh
    FROM t),
  sh AS (SELECT DISTINCT doc_id, s
         FROM (SELECT doc_id, unnest(sh) AS s FROM sh0)),
  dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
         CAST(ROUND(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                         AS DOUBLE) / count(*) * 1000000) AS BIGINT)
           AS novelty6
  FROM sh JOIN dfq USING (s)
  GROUP BY doc_id
""")
def text_novelty(spark, sf_dir):
    """Cross-corpus shingle novelty (ts.with_novelty): fraction of a
    doc's distinct shingles unique to it — the inverse boilerplate
    signal beside the within-doc repetition family. Registry + pytest
    + oracle verified on demand; demoted from the driver window (see
    __spark_entry__)."""
    return ts.with_novelty(_docs(spark, sf_dir))


_Q6_BODY = f"""
  SELECT doc_id, lang, source, text,
         CAST(len(toks) AS BIGINT) AS ws_tokens,
         {_QUALITY6_EXPR} AS q6
  FROM (SELECT doc_id, lang, source, text,
               list_filter(string_split_regex(trim(text), ' +'),
                           x -> x <> '') AS toks
        FROM documents)
"""


@q("ops_corpus_report", f"""
  WITH q AS ({_Q6_BODY}),
  dup AS (SELECT md5(coalesce(text, '')) AS h, count(*) AS c
          FROM documents GROUP BY 1)
  SELECT q.lang, q.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(q.ws_tokens) AS BIGINT) AS tokens,
         CAST(CAST(sum(q.q6) AS BIGINT) // CAST(count(*) AS BIGINT)
              AS BIGINT) AS mean_q6,
         CAST(sum(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_docs,
         CAST((CAST(sum(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) * 1000000)
              // CAST(count(*) AS BIGINT) AS BIGINT) AS dup_rate6
  FROM q JOIN dup ON dup.h = md5(coalesce(q.text, ''))
  GROUP BY q.lang, q.source
""")
def ops_corpus_report(spark, sf_dir):
    """Per-(lang, source) corpus report card — the rollup a curation
    run publishes: doc/token counts, mean quality (per-doc scaled
    bigints first, THEN integer mean — no cross-engine float-sum
    order), and the exact-duplicate rate via the corpus-wide text
    digest. One digest groupBy + one report groupBy. Registry +
    pytest + oracle verified on demand; demoted from the driver
    window (see __spark_entry__)."""
    d = _docs(spark, sf_dir).drop("n_chars")
    q = ts.with_quality_score(d).withColumn("q6", _r6(F.col("quality_score")))
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    dup = (d.groupBy(h.alias("h"))
           .agg(F.count(F.lit(1)).alias("c")))
    return (q.withColumn("h", h)
            .join(dup, "h")
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("ws_tokens").cast("bigint").alias("tokens"),
                 F.expr("CAST(sum(q6) AS BIGINT) div count(*)")
                 .cast("bigint").alias("mean_q6"),
                 F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                 .cast("bigint").alias("dup_docs"),
                 F.expr("CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)"
                        " AS BIGINT) * 1000000 div count(*)")
                 .cast("bigint").alias("dup_rate6")))


@q("text_lang_mix", f"""
  WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
  toks AS (SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(t), ' +'),
                                     x -> x <> '')) AS tok
           FROM base),
  n AS (SELECT doc_id, count(*) AS _n FROM toks GROUP BY doc_id),
  prof(tok, plang) AS (VALUES {_PROF_VALUES}),
  hits AS (SELECT doc_id, plang, count(*) AS _h
           FROM toks JOIN prof USING (tok) GROUP BY doc_id, plang),
  stop_scores AS (SELECT h.doc_id, h.plang,
                         CAST(ROUND(CAST(_h AS DOUBLE) / greatest(_n, 1)
                                    * {SCALE}) AS BIGINT) AS score6
                  FROM hits h JOIN n USING (doc_id)),
  cjk AS (SELECT doc_id, 'cjk' AS plang,
                 CAST(ROUND(least(1.0,
                        CAST(strlen(t) - length(t) AS DOUBLE)
                        / (2.0 * greatest(length(t), 1))) * {SCALE})
                      AS BIGINT) AS score6
          FROM base),
  scores AS (SELECT * FROM stop_scores UNION ALL SELECT * FROM cjk),
  ranked AS (SELECT doc_id, plang, score6,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score6 DESC, plang ASC)
                      AS rk
             FROM scores)
  SELECT b.doc_id,
         coalesce(CASE WHEN r1.score6 >= {ts.LANG_MIN_SCORE6}
                       THEN r1.plang ELSE 'und' END, 'und') AS lang1,
         coalesce(r1.score6, 0) AS score1_6,
         coalesce(CASE WHEN r2.score6 >= {ts.LANG_MIN_SCORE6}
                       THEN r2.plang ELSE 'und' END, 'und') AS lang2,
         coalesce(r2.score6, 0) AS score2_6,
         coalesce(CASE WHEN r1.score6 >= {ts.LANG_MIN_SCORE6}
                       THEN r1.plang ELSE 'und' END, 'und') <> 'und'
         AND coalesce(CASE WHEN r2.score6 >= {ts.LANG_MIN_SCORE6}
                           THEN r2.plang ELSE 'und' END, 'und') <> 'und'
         AND coalesce(r2.score6, 0) * 10 >= coalesce(r1.score6, 0) * 3
           AS is_mixed
  FROM base b
  LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r1 USING (doc_id)
  LEFT JOIN (SELECT * FROM ranked WHERE rk = 2) r2 USING (doc_id)
""")
def text_lang_mix(spark, sf_dir):
    """Language-mixture detection (ts.lang_mix): top-2 profile scores
    per doc, is_mixed when both clear the identification floor — the
    code-switching drop class beside text_langid's argmax. Registry +
    pytest + oracle verified on demand; demoted from the driver
    window (see __spark_entry__)."""
    from . import _docs_raw
    return ts.lang_mix(_docs_raw(spark, sf_dir))
