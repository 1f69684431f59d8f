"""Record-linkage coverage tail (VERDICT r01 next #4 / r02 next
#4-#6): T1 clean, F2 unique, A5-A9 dict stats + redirects + page
graph, J2 salted join, X6 MW relatedness, F4 stopword skip, S1 CSV."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..datapipe import textstats as ts
from ..textnorm import NORMALIZE_DUCKDB_SQL, clean_expr
from . import SCALE, _docs, _r6, _read, q
from .rl import _DICT_SQL, _TOK_SQL, _spark_dict


_CANDS_SQL = f"""
  WITH dict AS ({_DICT_SQL}),
  toks AS (SELECT DISTINCT doc_id, token FROM ({_TOK_SQL}))
  SELECT CAST(t.doc_id AS VARCHAR) || ':' || t.token AS mention_id,
         d.sense AS target_id, d.prior6
  FROM toks t JOIN dict d ON t.token = d.anchor_norm
"""


def _spark_cands(spark, sf_dir):
    """Distinct (doc, token) mentions joined to every dictionary sense."""
    dict_df = _spark_dict(spark, sf_dir)
    d = _docs(spark, sf_dir)
    toks = (d.select(
        "doc_id",
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), ""))
        .alias("token")).distinct())
    return (toks.join(dict_df, toks.token == dict_df.anchor_norm)
            .select(F.concat_ws(":", "doc_id", "token").alias("mention_id"),
                    F.col("sense").alias("target_id"), "prior6"))


def rl_unique_filter(spark, sf_dir):
    """F2: one row per (mention, target) keeping max sense_prob, fed a
    candidate set with injected half-probability duplicates."""
    from ..linking import unique_filter
    base = _spark_cands(spark, sf_dir) \
        .withColumnRenamed("prior6", "sense_prob")
    dup = base.withColumn(
        "sense_prob", F.floor(F.col("sense_prob") / 2).cast("bigint"))
    return unique_filter(base.unionByName(dup))


_RD_NORM_TITLE = NORMALIZE_DUCKDB_SQL.format(col="title")

@q("rl_redirect_dictionary", f"""
  WITH pages AS (
    SELECT p_partkey AS target_id, p_name AS title, false AS is_redirect
    FROM part
    UNION ALL
    SELECT p_partkey + 1000000, p_name, true FROM part),
  raw_links AS (
    SELECT p_partkey AS doc_id, upper(p_name) AS anchor,
           CASE WHEN p_partkey % 2 = 0 THEN p_partkey + 1000000
                ELSE p_partkey END AS target_id,
           true AS is_link
    FROM part
    UNION ALL
    SELECT p_partkey + 500000, upper(p_name), p_partkey, false FROM part),
  normed0 AS (
    SELECT doc_id, {NORMALIZE_DUCKDB_SQL.format(col='anchor')} AS anchor_norm,
           target_id, is_link
    FROM raw_links),
  canon AS (SELECT target_id AS canon_id, {_RD_NORM_TITLE} AS canon_norm
            FROM pages WHERE NOT is_redirect),
  redirects AS (SELECT target_id AS rd_id, {_RD_NORM_TITLE} AS rd_norm
                FROM pages WHERE is_redirect),
  rd_map AS (SELECT rd_id, canon_id
             FROM redirects JOIN canon ON rd_norm = canon_norm),
  normed AS (SELECT n.doc_id, n.anchor_norm,
                    coalesce(m.canon_id, n.target_id) AS target_id, n.is_link
             FROM normed0 n LEFT JOIN rd_map m ON n.target_id = m.rd_id),
  links AS (SELECT * FROM normed WHERE is_link),
  sense AS (SELECT anchor_norm, target_id,
                   CAST(count(*) AS BIGINT) AS sense_link_count
            FROM links GROUP BY 1, 2),
  atot AS (SELECT anchor_norm, CAST(count(*) AS BIGINT) AS anchor_link_total
           FROM links GROUP BY 1),
  ttot AS (SELECT anchor_norm, CAST(count(*) AS BIGINT) AS anchor_text_total
           FROM normed GROUP BY 1),
  titles AS (SELECT target_id, {_RD_NORM_TITLE} AS title_norm FROM pages),
  rd_flags AS (SELECT DISTINCT rd_norm AS anchor_norm, canon_id AS target_id
               FROM redirects JOIN canon ON rd_norm = canon_norm)
  SELECT s.anchor_norm, s.target_id, s.sense_link_count,
         a.anchor_link_total, t.anchor_text_total,
         s.anchor_norm = ti.title_norm AS from_title,
         rf.target_id IS NOT NULL AS from_redirect
  FROM sense s JOIN atot a USING (anchor_norm) JOIN ttot t USING (anchor_norm)
  LEFT JOIN titles ti ON ti.target_id = s.target_id
  LEFT JOIN rd_flags rf
    ON rf.anchor_norm = s.anchor_norm AND rf.target_id = s.target_id
""")
def rl_redirect_dictionary(spark, sf_dir):
    """A1-A3 + A7: the full dictionary build (normalize → redirect
    resolution → sense/anchor/text aggregations) on a synthetic
    raw-link corpus where half the links point at redirect pages —
    the oracle proves they land on the canonical target."""
    from ..dictionary import build_anchor_dictionary
    p = _read(spark, sf_dir, "part")
    pages = p.select(F.col("p_partkey").alias("target_id"),
                     F.col("p_name").alias("title"),
                     F.lit(False).alias("is_redirect")) \
        .unionByName(p.select(
            (F.col("p_partkey") + 1_000_000).alias("target_id"),
            F.col("p_name").alias("title"),
            F.lit(True).alias("is_redirect")))
    raw = p.select(
        F.col("p_partkey").alias("doc_id"),
        F.upper("p_name").alias("anchor"),
        F.when(F.col("p_partkey") % 2 == 0, F.col("p_partkey") + 1_000_000)
        .otherwise(F.col("p_partkey")).alias("target_id"),
        F.lit(True).alias("is_link")) \
        .unionByName(p.select(
            (F.col("p_partkey") + 500_000).alias("doc_id"),
            F.upper("p_name").alias("anchor"),
            F.col("p_partkey").alias("target_id"),
            F.lit(False).alias("is_link")))
    d = build_anchor_dictionary(raw, pages)
    # A8 flags selected into the hash-gated output (VERDICT r02 next #4:
    # a from_title / from_redirect regression must fail CORRECTNESS)
    return d.select("anchor_norm", "target_id",
                    F.col("sense_link_count").cast("bigint")
                    .alias("sense_link_count"),
                    F.col("anchor_link_total").cast("bigint")
                    .alias("anchor_link_total"),
                    F.col("anchor_text_total").cast("bigint")
                    .alias("anchor_text_total"),
                    "from_title", "from_redirect")


@q("rl_relatedness_mw", f"""
  WITH pl AS (SELECT l_orderkey AS src_id, l_partkey % 500 AS e
              FROM lineitem),
  il AS (SELECT DISTINCT src_id, e FROM pl),
  sizes AS (SELECT e, CAST(count(*) AS BIGINT) AS n_in FROM il GROUP BY 1),
  np AS (SELECT CAST(count(DISTINCT src_id) AS DOUBLE) AS n_pages FROM pl),
  inter AS (SELECT l.e AS e1, r.e AS e2, count(*) AS si
            FROM il l JOIN il r ON l.src_id = r.src_id AND l.e <> r.e
            GROUP BY 1, 2)
  SELECT e1, e2, CAST(si AS BIGINT) AS shared_inlinks,
         CAST(ROUND((CASE
           WHEN (ln(n_pages) - ln(CAST(least(s1.n_in, s2.n_in) AS DOUBLE))) > 0
           THEN greatest(0.0, least(1.0,
             1 - (ln(CAST(greatest(s1.n_in, s2.n_in) AS DOUBLE))
                  - ln(CAST(si AS DOUBLE)))
               / (ln(n_pages) - ln(CAST(least(s1.n_in, s2.n_in) AS DOUBLE)))))
           ELSE 1.0 END) * {SCALE}) AS BIGINT) AS mw6
  FROM inter
  JOIN sizes s1 ON s1.e = inter.e1
  JOIN sizes s2 ON s2.e = inter.e2, np
""")
def rl_relatedness_mw(spark, sf_dir):
    """X6: log-normalized Milne-Witten relatedness over a bipartite
    order→part link graph (sources = orders, entities = part buckets)."""
    from ..linking import relatedness_table
    l = _read(spark, sf_dir, "lineitem")
    pl = l.select(F.col("l_orderkey").alias("src_id"),
                  (F.col("l_partkey") % 500).alias("dst_id"))
    ents = pl.select(F.col("dst_id").alias("target_id"))
    rel = relatedness_table(pl, ents)
    return rel.select("e1", "e2",
                      F.col("shared_inlinks").cast("bigint")
                      .alias("shared_inlinks"),
                      _r6(F.col("mw_rel")).alias("mw6"))


@q("rl_salted_join", f"""
  {_CANDS_SQL}
""")
def rl_salted_join(spark, sf_dir):
    """J2: the salted skew-join plan must produce EXACTLY the plain
    equi-join result — the oracle is the plain SQL join, so the
    salt/explode/union machinery is verified end-to-end."""
    from ..config import SemlinkConfig
    from ..linking import salted_candidate_join
    dict_df = _spark_dict(spark, sf_dir)
    anchors = dict_df.select(
        "anchor_norm", F.col("sense").alias("target_id"),
        F.col("sense_cnt").alias("sense_link_count"),
        F.col("anchor_total").alias("anchor_link_total"),
        (F.col("anchor_total") + 7).alias("anchor_text_total"),
        "prior6")
    d = _docs(spark, sf_dir)
    mentions = (d.select(
        "doc_id",
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), ""))
        .alias("token")).distinct()
        .select(F.concat_ws(":", "doc_id", "token").alias("mention_id"),
                F.col("token").alias("ngram_norm")))
    hot = (mentions.groupBy("ngram_norm").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= 20)
           .select(F.col("ngram_norm").alias("anchor_norm")))
    j = salted_candidate_join(mentions, anchors, hot,
                              SemlinkConfig(salt_buckets=4))
    return j.select("mention_id", "target_id", "prior6")


_STOP_LIST = ", ".join(f"'{w}'" for w in ts.EN_STOPWORDS)

def rl_stopword_filter(spark, sf_dir):
    """F4: bare-stopword mention keys are dropped (reference stopword
    skip); multi-word keys containing stopwords survive."""
    from ..linking import stopword_filter
    d = _docs(spark, sf_dir)
    toks = (d.select(
        "doc_id",
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), ""))
        .alias("ngram_norm")).distinct()
        .select(F.concat_ws(":", "doc_id", "ngram_norm").alias("mention_id"),
                "ngram_norm"))
    return stopword_filter(toks)


@q("src_csv_load", """
  SELECT n_regionkey AS target_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_nationkey) AS BIGINT) AS doc_id_sum,
         CAST(sum(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_links
  FROM nation GROUP BY 1
""")
def src_csv_load(spark, sf_dir):
    """S1: the Wikipedia-Miner-style CSV dump load (typed schema,
    header, FAILFAST — sources.read_raw_links_csv) round-tripped
    through a real CSV file; the oracle recomputes the aggregate from
    the source table, so a type-coercion or parse bug fails the hash."""
    import tempfile
    from ..sources import read_raw_links_csv
    n = _read(spark, sf_dir, "nation")
    raw = n.select(F.col("n_nationkey").cast("long").alias("doc_id"),
                   F.col("n_name").alias("anchor"),
                   F.col("n_regionkey").cast("long").alias("target_id"),
                   (F.col("n_nationkey") % 2 == 0).alias("is_link"))
    d = tempfile.mkdtemp(prefix="semlink_csv_")
    raw.write.mode("overwrite").option("header", True).csv(d)
    back = read_raw_links_csv(spark, d)
    return back.groupBy("target_id").agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.sum(F.col("is_link").cast("long")).alias("n_links"))


_PAGE_GRAPH_SQL = """
  pl AS (SELECT l_orderkey % 500 AS src_id, l_partkey % 500 AS dst_id
         FROM lineitem),
  ids AS (SELECT src_id AS id FROM pl UNION SELECT dst_id FROM pl),
  pages AS (SELECT id AS target_id, 'p' || CAST(id AS VARCHAR) AS title,
                   id % 10 = 0 AS is_redirect
            FROM ids),
  inc AS (SELECT dst_id AS target_id, CAST(count(*) AS BIGINT) AS c
          FROM pl GROUP BY 1),
  outc AS (SELECT src_id AS target_id, CAST(count(*) AS BIGINT) AS c
           FROM pl GROUP BY 1),
  pagestats AS (
    SELECT p.target_id, p.title, p.is_redirect,
           COALESCE(i.c, 0) AS inlink_count,
           COALESCE(o.c, 0) AS outlink_count
    FROM pages p
    LEFT JOIN inc i USING (target_id)
    LEFT JOIN outc o USING (target_id))
"""


def _spark_page_graph(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    pl = l.select((F.col("l_orderkey") % 500).alias("src_id"),
                  (F.col("l_partkey") % 500).alias("dst_id"))
    ids = (pl.select(F.col("src_id").alias("id"))
           .union(pl.select(F.col("dst_id").alias("id"))).distinct())
    pages = ids.select(
        F.col("id").alias("target_id"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("title"),
        (F.col("id") % 10 == 0).alias("is_redirect"))
    return pl, pages


# ------------------------------------------------------ consolidated
# (window-budget consolidation — see queries/rl.py note)

@q("rl_textnorm", r"""
  WITH cleaned AS (
    SELECT doc_id,
           CASE WHEN contains(dirty, 'http') OR contains(dirty, '@')
                     OR contains(dirty, 'RT')
                THEN regexp_replace(regexp_replace(regexp_replace(dirty,
                       'https?://\S+', ' ', 'g'), '@\w+', ' ', 'g'),
                       '\bRT\b', ' ', 'g')
                ELSE dirty END AS cleaned
    FROM (SELECT doc_id,
                 'RT @user' || CAST(doc_id AS VARCHAR) || ' ' || text ||
                 ' see http://x.co/' || CAST(doc_id % 97 AS VARCHAR) AS dirty
          FROM documents))
  SELECT doc_id, cleaned, {norm} AS blocking_key
  FROM cleaned
""".replace("{norm}", NORMALIZE_DUCKDB_SQL.format(col="cleaned")))
def rl_textnorm(spark, sf_dir):
    """T1 → T4 composed in one entry: tweet-style cleaning (URL /
    @mention / RT strip) followed by blocking-key normalization of the
    cleaned text."""
    from ..textnorm import normalize_expr
    d = _docs(spark, sf_dir)
    dirty = F.concat(F.lit("RT @user"), F.col("doc_id").cast("string"),
                     F.lit(" "), F.col("text"), F.lit(" see http://x.co/"),
                     (F.col("doc_id") % 97).cast("string"))
    return (d.select("doc_id", clean_expr(dirty).alias("cleaned"))
            .withColumn("blocking_key", normalize_expr(F.col("cleaned"))))


@q("rl_page_graph", f"""
  WITH {_PAGE_GRAPH_SQL},
  cands AS (SELECT 'm:' || CAST(p_partkey AS VARCHAR) AS mention_id,
                   p_partkey % 500 AS target_id
            FROM part)
  SELECT c.mention_id, c.target_id, ps.title, ps.is_redirect,
         ps.inlink_count AS f_inlinks,
         ps.outlink_count AS f_outlinks
  FROM cands c LEFT JOIN pagestats ps USING (target_id)
""")
def rl_page_graph(spark, sf_dir):
    """A9 + J4 + X5 in one entry: build_page_stats in/out-degree over
    the synthetic page graph AND the attach_page_features broadcast
    left join carrying title/redirect/degree onto every candidate."""
    from ..dictionary import build_page_stats
    from ..linking import attach_page_features
    pl, pages = _spark_page_graph(spark, sf_dir)
    stats = build_page_stats(pl, pages)
    p = _read(spark, sf_dir, "part")
    cands = p.select(
        F.concat_ws(":", F.lit("m"), F.col("p_partkey").cast("string"))
        .alias("mention_id"),
        (F.col("p_partkey") % 500).alias("target_id"))
    out = attach_page_features(cands, stats)
    return (out.join(stats.select("target_id", "title"), "target_id", "left")
            .select("mention_id", "target_id", "title",
                    F.col("f_is_redirect").alias("is_redirect"),
                    F.col("f_inlinks").cast("bigint").alias("f_inlinks"),
                    F.col("f_outlinks").cast("bigint").alias("f_outlinks")))


@q("rl_filter_battery", f"""
  WITH thr AS (SELECT * FROM ({_DICT_SQL}) WHERE prior6 >= {SCALE // 12}),
  cands AS ({_CANDS_SQL}),
  dup AS (SELECT mention_id, target_id, prior6 FROM cands
          UNION ALL
          SELECT mention_id, target_id, prior6 // 2 FROM cands),
  uniq AS (SELECT mention_id, target_id, max(prior6) AS sense_prob
           FROM dup GROUP BY 1, 2),
  toks AS (SELECT DISTINCT doc_id, token FROM ({_TOK_SQL})),
  stop AS (SELECT CAST(doc_id AS VARCHAR) || ':' || token AS mention_id,
                  token AS ngram_norm
           FROM toks WHERE token NOT IN ({_STOP_LIST}))
  SELECT 'threshold' AS filt, anchor_norm || '|' || sense AS key,
         CAST(prior6 AS BIGINT) AS val
  FROM thr
  UNION ALL
  SELECT 'unique', mention_id || '|' || target_id,
         CAST(sense_prob AS BIGINT)
  FROM uniq
  UNION ALL
  SELECT 'stopword', mention_id, CAST(length(ngram_norm) AS BIGINT)
  FROM stop
""")
def rl_filter_battery(spark, sf_dir):
    """F1 + F2 + F4 in one hash-gated entry: each filter's FULL row
    set is preserved under a (filt, key, val) shape, so the combined
    hash is exactly as strong as three separate ones."""
    from .rl import rl_threshold_filter
    thr = rl_threshold_filter(spark, sf_dir).select(
        F.lit("threshold").alias("filt"),
        F.concat_ws("|", "anchor_norm", "sense").alias("key"),
        F.col("prior6").cast("bigint").alias("val"))
    u = rl_unique_filter(spark, sf_dir).select(
        F.lit("unique").alias("filt"),
        F.concat_ws("|", "mention_id", "target_id").alias("key"),
        F.col("sense_prob").cast("bigint").alias("val"))
    s = rl_stopword_filter(spark, sf_dir).select(
        F.lit("stopword").alias("filt"),
        F.col("mention_id").alias("key"),
        F.length("ngram_norm").cast("bigint").alias("val"))
    return thr.unionByName(u).unionByName(s)


def _pagerank_oracle(iters: int = 3) -> str:
    s = 1_000_000_000
    parts = [f"""
  WITH pl AS (SELECT DISTINCT l_orderkey % 500 AS src_id,
                              l_partkey % 500 AS dst_id
              FROM lineitem),
  nodes AS (SELECT src_id AS id FROM pl UNION SELECT dst_id FROM pl),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
  outd AS (SELECT src_id, CAST(count(*) AS BIGINT) AS outdeg
           FROM pl GROUP BY src_id),
  r0 AS (SELECT id, CAST({s} // n AS BIGINT) AS pr9
         FROM nodes CROSS JOIN nn)"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f""",
  c{i} AS (SELECT pl.dst_id AS id,
                  CAST(sum(r{p}.pr9 // outd.outdeg) AS BIGINT) AS in_sum
           FROM r{p} JOIN pl ON r{p}.id = pl.src_id
           JOIN outd ON pl.src_id = outd.src_id
           GROUP BY pl.dst_id),
  d{i} AS (SELECT CAST(coalesce(sum(r{p}.pr9), 0) AS BIGINT) AS dang
           FROM r{p} LEFT JOIN outd ON r{p}.id = outd.src_id
           WHERE outd.src_id IS NULL),
  r{i} AS (SELECT nodes.id,
                  CAST({15 * s} // (n * 100)
                       + (85 * (coalesce(in_sum, 0) + dang // n)) // 100
                       AS BIGINT) AS pr9
           FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id
           CROSS JOIN d{i} CROSS JOIN nn)""")
    parts.append(f"""
  SELECT id AS target_id, pr9 FROM r{iters}""")
    return "".join(parts)


@q("rl_pagerank_prior", _pagerank_oracle())
def rl_pagerank_prior(spark, sf_dir):
    """Integer-exact damped PageRank (semlink.graphrank) over the
    synthetic page-link graph — the iterative page-popularity prior
    beside A9's degree counts. Three synchronous iterations; the
    oracle unrolls the SAME integer recurrence as CTEs, so every
    scaled-bigint rank must match verbatim. Registry + pytest +
    oracle verified on demand; demoted from the driver window (see
    __spark_entry__)."""
    from ..graphrank import pagerank
    pl, _pages = _spark_page_graph(spark, sf_dir)
    return pagerank(pl).select(F.col("id").alias("target_id"), "pr9")
