"""Dedup family (datapipe): exact, MinHash/LSH, Jaccard verify,
SimHash, composed near-dup clustering, benchmark decontamination."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..datapipe import dedup as dd
from . import SCALE, _docs, _r6, q


@q("dedup_exact", """
  SELECT md5(coalesce(text, '')) AS text_hash,
         min(doc_id) AS keeper_doc_id,
         count(*) AS dup_count
  FROM documents GROUP BY md5(coalesce(text, ''))
""")
def dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir))


_SHINGLE_SQL = """
  SELECT doc_id, list_distinct(
           CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i : i + 2], ' '))
           ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), ' +'),
                                   x -> x <> '') AS toks
        FROM documents)
"""

_MINHASH_SQL = "".join([
    "SELECT doc_id",
    *[f", list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh_{i}"
      for i in range(dd.MINHASH_K)],
    f" FROM ({_SHINGLE_SQL})",
])

@q("dedup_minhash_signatures", _MINHASH_SQL)
def dedup_minhash_signatures(spark, sf_dir):
    from . import _docs_raw
    return dd.minhash_signatures(_docs_raw(spark, sf_dir))


_BUCKET_SQL = " UNION ALL ".join(
    f"""SELECT doc_id, {b} AS band,
        md5('{b}' || '|' || mh_{2 * b} || '|' || mh_{2 * b + 1}) AS bucket
        FROM ({_MINHASH_SQL})"""
    for b in range(dd.LSH_BANDS))

@q("dedup_lsh_pairs", f"""
  WITH b AS ({_BUCKET_SQL}),
  sized AS (SELECT band, bucket FROM b GROUP BY band, bucket
            HAVING count(*) <= 64)
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM (SELECT b.* FROM b JOIN sized USING (band, bucket)) l
  JOIN (SELECT b.* FROM b JOIN sized USING (band, bucket)) r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
""")
def dedup_lsh_pairs(spark, sf_dir):
    sigs = dd.minhash_signatures(_docs(spark, sf_dir))
    return dd.lsh_candidate_pairs(dd.lsh_buckets(sigs))


# ---------------------------------------------------- consolidated
# (window-budget consolidation — see queries/rl.py note.) The exact
# Jaccard verify runs ON the LSH candidate pairs, so one hash-gated
# entry pins the whole minhash → bucket → capped pair join → verify
# chain (each upstream stage changes the hash).

@q("dedup_lsh_jaccard", f"""
  WITH b AS ({_BUCKET_SQL}),
  sized AS (SELECT band, bucket FROM b GROUP BY band, bucket
            HAVING count(*) <= 64),
  cand AS (
    SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
    FROM (SELECT b.* FROM b JOIN sized USING (band, bucket)) l
    JOIN (SELECT b.* FROM b JOIN sized USING (band, bucket)) r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
  sh AS ({_SHINGLE_SQL}),
  sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
  ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
  inter AS (SELECT p.left_id, p.right_id, count(*) AS inter
            FROM cand p
            JOIN ex el ON el.doc_id = p.left_id
            JOIN ex er ON er.doc_id = p.right_id AND er.s = el.s
            GROUP BY 1, 2)
  SELECT p.left_id, p.right_id,
         coalesce(i.inter, 0) AS inter,
         CAST(ROUND(CAST(coalesce(i.inter, 0) AS DOUBLE)
              / (sl.n_sh + sr.n_sh - coalesce(i.inter, 0)) * {SCALE})
              AS BIGINT) AS jaccard6
  FROM cand p
  LEFT JOIN inter i USING (left_id, right_id)
  JOIN sizes sl ON sl.doc_id = p.left_id
  JOIN sizes sr ON sr.doc_id = p.right_id
""")
def dedup_lsh_jaccard(spark, sf_dir):
    """LSH candidate generation + exact shingle-Jaccard verify in one
    hash-gated entry."""
    d = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(d)
    pairs = dd.lsh_candidate_pairs(dd.lsh_buckets(sigs))
    jac = dd.ngram_jaccard(d, pairs)
    return jac.select(
        "left_id", "right_id",
        F.col("inter").cast("bigint").alias("inter"),
        _r6(F.col("inter").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("inter")))
        .alias("jaccard6"))


# Exact set-similarity join threshold — rational so every filter is
# integer arithmetic in both engines (see datapipe.dedup docstring).
_SS_TN = 4
_SS_TD = 5


@q("dedup_setsim_join", f"""
  WITH sh AS ({_SHINGLE_SQL}),
  ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
  dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS dfr
            FROM ex GROUP BY s),
  ordered AS (
    SELECT e.doc_id, e.s,
           CAST(row_number() OVER (PARTITION BY e.doc_id
                                   ORDER BY d.dfr, e.s) AS BIGINT) AS pos,
           CAST(count(*) OVER (PARTITION BY e.doc_id) AS BIGINT) AS sz
    FROM ex e JOIN dfreq d USING (s)),
  pref AS (
    SELECT * FROM ordered
    WHERE pos <= sz - (({_SS_TN} * sz + {_SS_TD - 1}) // {_SS_TD}) + 1),
  cand AS (
    SELECT l.doc_id AS left_id, r.doc_id AS right_id,
           l.sz AS sz_l, r.sz AS sz_r,
           min(l.pos) AS i, min(r.pos) AS j
    FROM pref l JOIN pref r
      ON l.s = r.s AND l.doc_id < r.doc_id
     AND {_SS_TD} * least(l.sz, r.sz) >= {_SS_TN} * greatest(l.sz, r.sz)
    GROUP BY 1, 2, 3, 4),
  cand2 AS (
    SELECT * FROM cand
    WHERE 1 + least(sz_l - i, sz_r - j)
          >= ({_SS_TN} * (sz_l + sz_r) + {_SS_TD + _SS_TN - 1})
             // {_SS_TD + _SS_TN}),
  ov AS (
    SELECT c.left_id, c.right_id, c.sz_l, c.sz_r,
           CAST(count(*) AS BIGINT) AS overlap
    FROM cand2 c
    JOIN ex el ON el.doc_id = c.left_id
    JOIN ex er ON er.doc_id = c.right_id AND er.s = el.s
    GROUP BY 1, 2, 3, 4)
  SELECT left_id, right_id, sz_l, sz_r, overlap,
         CAST(ROUND(CAST(overlap AS DOUBLE)
              / (sz_l + sz_r - overlap) * {SCALE}) AS BIGINT) AS jaccard6
  FROM ov
  WHERE overlap * {_SS_TD + _SS_TN} >= {_SS_TN} * (sz_l + sz_r)
""")
def dedup_setsim_join(spark, sf_dir):
    """EXACT threshold-Jaccard self-join at t = {tn}/{td} via prefix
    filtering (AllPairs/PPJoin, Bayardo '07 / Xiao '08) — the
    no-false-negative alternative to LSH for strict dedup policies.
    The oracle re-derives the canonical rare-first shingle order, the
    prefix / length / positional filters, and the integer-exact
    verification; pytest separately pins the output equal to the
    brute-force threshold join."""
    return dd.setsim_join_pairs(_docs(spark, sf_dir),
                                t_num=_SS_TN, t_den=_SS_TD)


dedup_setsim_join.__doc__ = dedup_setsim_join.__doc__.format(
    tn=_SS_TN, td=_SS_TD)


_SIMHASH_NIB = "(strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1)"
_SIMHASH_SQL = (
    "WITH toks AS (SELECT doc_id, unnest(list_distinct("
    "list_filter(string_split_regex(trim(text), ' +'), x -> x <> ''))) AS tok "
    "FROM documents), "
    "h AS (SELECT doc_id, md5(tok) AS hx FROM toks), "
    "v AS (SELECT doc_id"
    + "".join(
        f", sum(CASE WHEN CAST(floor({_SIMHASH_NIB.format(p=j // 4 + 1)} / {2 ** (j % 4)}) AS BIGINT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(dd.SIMHASH_BITS))
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(dd.SIMHASH_BITS))
    + " AS BIGINT) AS simhash FROM v")

@q("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark, sf_dir):
    return dd.simhash(_docs(spark, sf_dir))


_ND_PAIRS_SQL = f"""
  WITH b AS ({_BUCKET_SQL}),
  sized AS (SELECT band, bucket FROM b GROUP BY band, bucket
            HAVING count(*) <= 64),
  cand AS (
    SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
    FROM (SELECT b.* FROM b JOIN sized USING (band, bucket)) l
    JOIN (SELECT b.* FROM b JOIN sized USING (band, bucket)) r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
  sh AS ({_SHINGLE_SQL}),
  sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
  ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
  inter AS (SELECT p.left_id, p.right_id, count(*) AS inter
            FROM cand p
            JOIN ex el ON el.doc_id = p.left_id
            JOIN ex er ON er.doc_id = p.right_id AND er.s = el.s
            GROUP BY 1, 2)
  SELECT p.left_id, p.right_id
  FROM cand p
  JOIN inter i USING (left_id, right_id)
  JOIN sizes sl ON sl.doc_id = p.left_id
  JOIN sizes sr ON sr.doc_id = p.right_id
  WHERE CAST(ROUND(CAST(i.inter AS DOUBLE)
             / (sl.n_sh + sr.n_sh - i.inter) * {SCALE}) AS BIGINT)
        >= {SCALE // 2}
"""

@q("dedup_near_dup_clusters", f"""
  WITH RECURSIVE edges AS (
    SELECT 'd' || lpad(CAST(left_id AS VARCHAR), 6, '0') AS src,
           'd' || lpad(CAST(right_id AS VARCHAR), 6, '0') AS dst
    FROM ({_ND_PAIRS_SQL})),
  sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
          UNION SELECT src, src FROM edges UNION SELECT dst, dst FROM edges),
  reach(a, b) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
  )
  SELECT a AS mention_id, min(b) AS cluster_id FROM reach GROUP BY a
""")
def dedup_near_dup_clusters(spark, sf_dir):
    """Dedup family composed e2e: the LSH candidate pairs are verified
    with exact shingle Jaccard (≥ 0.5), surviving pairs become edges,
    and the SAME checkpointed large/small-star CC that clusters
    record-linkage mentions labels the near-dup groups. The oracle
    recomputes the whole chain, CC included (recursive CTE)."""
    import tempfile
    from ..cluster import run_connected_components
    from ..config import SemlinkConfig
    d = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(d)
    pairs = dd.lsh_candidate_pairs(dd.lsh_buckets(sigs))
    jac = dd.ngram_jaccard(d, pairs)
    ident = lambda c: F.concat(F.lit("d"),
                               F.lpad(F.col(c).cast("string"), 6, "0"))
    edges = (jac.filter(
        _r6(F.col("inter").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("inter")))
        >= SCALE // 2)
        .select(ident("left_id").alias("src"), ident("right_id").alias("dst")))
    ckpt = tempfile.mkdtemp(prefix="semlink_nd_cc_")
    return run_connected_components(edges, SemlinkConfig(), ckpt_dir=ckpt)


@q("dedup_decontaminate", f"""
  WITH sh AS ({_SHINGLE_SQL}),
  c AS (SELECT doc_id, md5(s) AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
  b AS (SELECT DISTINCT md5(s) AS h
        FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 50 = 0)),
  sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
            FROM c GROUP BY 1),
  hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
           FROM c JOIN b USING (h) GROUP BY 1)
  SELECT s.doc_id, s.n_shingles,
         CAST(COALESCE(hi.n_overlap, 0) AS BIGINT) AS n_overlap,
         CAST(ROUND(CAST(COALESCE(hi.n_overlap, 0) AS DOUBLE)
              / s.n_shingles * {SCALE}) AS BIGINT) AS overlap6,
         CAST(ROUND(CAST(COALESCE(hi.n_overlap, 0) AS DOUBLE)
              / s.n_shingles * {SCALE}) AS BIGINT) >= {SCALE // 2}
           AS contaminated
  FROM sizes s LEFT JOIN hits hi ON hi.doc_id = s.doc_id
""")
def dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.cross_corpus_overlap): every
    50th document plays the eval set; each corpus doc reports the
    fraction of its shingles found in that set. The planted benchmark
    docs must come back contaminated (overlap 1.0); the oracle
    re-derives every overlap fraction."""
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return dd.cross_corpus_overlap(d, bench)


# Canopy constants — shared verbatim with the oracle. Loose T1 admits
# the background shared-shingle noise floor's upper edge; tight T2
# sits in the bimodal gap below the planted near-dup mass (measured
# at sf0.001: background pairs <= ~4 shared shingles, near-dups >= 20).
_CANOPY_T1 = 4
_CANOPY_T2 = 20
_CANOPY_ROUNDS = 4   # oracle unroll bound; Spark raises past it

# shared-shingle pair similarity over documents — the cheap distance
# for BOTH canopy and center clustering, shared verbatim
_SHSIMS_SQL = f"""sh0 AS ({_SHINGLE_SQL}),
  shx AS (SELECT doc_id, unnest(sh) AS s FROM sh0),
  sims AS MATERIALIZED (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                  CAST(count(*) AS BIGINT) AS sim
           FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""


def _sh_sims(spark, sf_dir):
    """Spark mirror of _SHSIMS_SQL: shared-distinct-shingle pair
    similarity over documents — the cheap distance for BOTH canopy
    and center clustering (one construction, two consumers)."""
    docs = _docs(spark, sf_dir)
    sh = dd.shingles_exploded(docs).distinct()
    a = sh.select(F.col("doc_id").alias("id_l"), "s")
    b = sh.select(F.col("doc_id").alias("id_r"), "s")
    sims = (a.join(b, "s")
            .filter(F.col("id_l") < F.col("id_r"))
            .groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).cast("bigint").alias("sim")))
    return docs, sims


def _canopy_oracle() -> str:
    """Unrolled id-ordered greedy center election (= greedy MIS of
    the T2 graph by iterated local minima) + T1 membership, the
    mirror of canopy.canopy_members. Rounds past convergence run on
    empty pools and add nothing."""
    head = f"""
  WITH {_SHSIMS_SQL},
  adj2 AS (SELECT id_l AS src, id_r AS dst FROM sims
           WHERE sim >= {_CANOPY_T2}
           UNION ALL
           SELECT id_r, id_l FROM sims WHERE sim >= {_CANOPY_T2}),
  adj1 AS (SELECT id_l AS src, id_r AS dst FROM sims
           WHERE sim >= {_CANOPY_T1}
           UNION ALL
           SELECT id_r, id_l FROM sims WHERE sim >= {_CANOPY_T1}),
  p0 AS (SELECT doc_id AS v FROM documents)"""
    parts = [head]
    for i in range(1, _CANOPY_ROUNDS + 1):
        p = i - 1
        parts.append(f""",
  e{i} AS (SELECT p.v FROM p{p} p
           WHERE NOT EXISTS (SELECT 1 FROM adj2 a JOIN p{p} q
                             ON a.dst = q.v
                             WHERE a.src = p.v AND a.dst < p.v)),
  p{i} AS (SELECT v FROM p{p}
           WHERE v NOT IN (SELECT v FROM e{i})
             AND v NOT IN (SELECT a.dst FROM adj2 a
                           JOIN e{i} c ON a.src = c.v))""")
    union = "\n        UNION ALL ".join(
        f"SELECT v FROM e{i}" for i in range(1, _CANOPY_ROUNDS + 1))
    parts.append(f""",
  centers AS ({union})
  SELECT c.v AS center_id, a.dst AS member_id
  FROM centers c JOIN adj1 a ON a.src = c.v
  UNION ALL
  SELECT v AS center_id, v AS member_id FROM centers""")
    return "".join(parts)


@q("dedup_canopy", _canopy_oracle())
def dedup_canopy(spark, sf_dir):
    """Canopy pre-blocking (canopy.canopy_members, McCallum '00)
    over the documents corpus: cheap similarity = shared distinct
    3-token shingles, centers elected by id-ordered greedy MIS of
    the tight-threshold graph (distributed via iterated local
    minima, bit-identical to the sequential scan), membership at the
    loose threshold with overlap. Registry + pytest + oracle
    verified on demand; demoted from the full driver window (see
    __spark_entry__)."""
    from ..canopy import canopy_members
    docs, sims = _sh_sims(spark, sf_dir)
    return canopy_members(docs.select("doc_id"), sims,
                          t1=_CANOPY_T1, t2=_CANOPY_T2,
                          max_rounds=_CANOPY_ROUNDS)


_CENTER_ROUNDS = 4   # oracle unroll bound; Spark raises past it


def _center_oracle() -> str:
    """Unrolled best-first center-clustering scan (locally-dominant
    edges + monotone-state pruning), mirror of
    cluster.center_clusters over the near-dup shingle graph."""
    # MATERIALIZED hints are load-bearing: DuckDB inlines plain CTEs,
    # and the round chain references each previous round several times
    # — un-materialized, the base scan multiplies exponentially per
    # round and the engine EMFILEs on thousands of parquet opens
    parts = [f"""
  WITH {_SHSIMS_SQL},
  e0 AS MATERIALIZED (SELECT id_l AS l, id_r AS r, sim AS s FROM sims
         WHERE sim >= {_CANOPY_T2}),
  s0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS v,
                CAST(NULL AS BIGINT) AS c,
                TRUE AS ctr WHERE 1 = 0)"""]
    for i in range(1, _CENTER_ROUNDS + 1):
        p = i - 1
        parts.append(f""",
  sym{i} AS (SELECT l AS node, l, r, s FROM e{p}
             UNION ALL SELECT r, l, r, s FROM e{p}),
  rk{i} AS (SELECT node, l, r, s FROM (
              SELECT *, row_number() OVER (PARTITION BY node
                        ORDER BY s DESC, l, r) AS rk FROM sym{i})
            WHERE rk = 1),
  d{i} AS (SELECT l, r, s FROM rk{i}
           GROUP BY l, r, s HAVING count(*) = 2),
  j{i} AS MATERIALIZED (SELECT d.l, d.r, su.c AS cu, su.ctr AS ku,
                  sv.c AS cv, sv.ctr AS kv
           FROM d{i} d
           LEFT JOIN s{p} su ON su.v = d.l
           LEFT JOIN s{p} sv ON sv.v = d.r),
  n{i} AS (SELECT l AS v, l AS c, TRUE AS ctr FROM j{i}
             WHERE cu IS NULL AND cv IS NULL
           UNION ALL SELECT r, l, FALSE FROM j{i}
             WHERE cu IS NULL AND cv IS NULL
           UNION ALL SELECT r, cu, FALSE FROM j{i}
             WHERE ku AND cv IS NULL
           UNION ALL SELECT l, cv, FALSE FROM j{i}
             WHERE kv AND cu IS NULL),
  s{i} AS MATERIALIZED (SELECT * FROM s{p}
           UNION ALL SELECT * FROM n{i}),
  e{i} AS MATERIALIZED (SELECT e.l, e.r, e.s FROM e{p} e
           LEFT JOIN s{i} su ON su.v = e.l
           LEFT JOIN s{i} sv ON sv.v = e.r
           WHERE NOT (su.v IS NOT NULL AND NOT su.ctr)
             AND NOT (sv.v IS NOT NULL AND NOT sv.ctr)
             AND NOT (su.v IS NOT NULL AND sv.v IS NOT NULL))""")
    parts.append(f"""
  SELECT d.doc_id,
         CAST(coalesce(st.c, d.doc_id) AS BIGINT) AS cluster,
         coalesce(st.ctr, TRUE) AS is_center
  FROM documents d
  LEFT JOIN s{_CENTER_ROUNDS} st ON st.v = d.doc_id""")
    return "".join(parts)


@q("dedup_center_clusters", _center_oracle())
def dedup_center_clusters(spark, sf_dir):
    """Center clustering (cluster.center_clusters, Hassanzadeh-
    Miller VLDB J. '09) over the SAME near-dup shingle graph the CC
    composition uses (edges = pairs sharing >= T2 shingles): scan
    edges best-first, centers never chain through members — the
    split-instead-of-collapse alternative to
    dedup_near_dup_clusters' connected components. Registry +
    pytest + oracle verified on demand; demoted from the full
    driver window (see __spark_entry__)."""
    from ..cluster import center_clusters
    docs, sims = _sh_sims(spark, sf_dir)
    return center_clusters(
        docs.select("doc_id"), sims.filter(F.col("sim") >= _CANOPY_T2),
        max_rounds=_CENTER_ROUNDS)


def _merge_center_oracle() -> str:
    """Unrolled merge-center scan + recursive-CTE CC relabel, mirror
    of cluster.merge_center_clusters: same dominance rounds as the
    center oracle, but only both-member edges prune, dominant edges
    are removed explicitly (a member~unassigned slot is a skip), and
    both-decided-with-a-center edges emit cluster-merge rows that a
    recursive reachability CTE folds into min-labels."""
    parts = [f"""
  WITH RECURSIVE {_SHSIMS_SQL},
  e0 AS MATERIALIZED (SELECT id_l AS l, id_r AS r, sim AS s FROM sims
         WHERE sim >= {_CANOPY_T2}),
  s0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS v,
                CAST(NULL AS BIGINT) AS c,
                TRUE AS ctr WHERE 1 = 0)"""]
    for i in range(1, _CENTER_ROUNDS + 1):
        p = i - 1
        parts.append(f""",
  sym{i} AS (SELECT l AS node, l, r, s FROM e{p}
             UNION ALL SELECT r, l, r, s FROM e{p}),
  rk{i} AS (SELECT node, l, r, s FROM (
              SELECT *, row_number() OVER (PARTITION BY node
                        ORDER BY s DESC, l, r) AS rk FROM sym{i})
            WHERE rk = 1),
  d{i} AS MATERIALIZED (SELECT l, r, s FROM rk{i}
           GROUP BY l, r, s HAVING count(*) = 2),
  j{i} AS MATERIALIZED (SELECT d.l, d.r, su.c AS cu, su.ctr AS ku,
                  sv.c AS cv, sv.ctr AS kv
           FROM d{i} d
           LEFT JOIN s{p} su ON su.v = d.l
           LEFT JOIN s{p} sv ON sv.v = d.r),
  n{i} AS (SELECT l AS v, l AS c, TRUE AS ctr FROM j{i}
             WHERE cu IS NULL AND cv IS NULL
           UNION ALL SELECT r, l, FALSE FROM j{i}
             WHERE cu IS NULL AND cv IS NULL
           UNION ALL SELECT r, cu, FALSE FROM j{i}
             WHERE ku AND cv IS NULL
           UNION ALL SELECT l, cv, FALSE FROM j{i}
             WHERE kv AND cu IS NULL),
  mg{i} AS (SELECT cu AS c1, cv AS c2 FROM j{i}
            WHERE cu IS NOT NULL AND cv IS NOT NULL
              AND (ku OR kv) AND cu <> cv),
  s{i} AS MATERIALIZED (SELECT * FROM s{p}
           UNION ALL SELECT * FROM n{i}),
  e{i} AS MATERIALIZED (SELECT e.l, e.r, e.s FROM e{p} e
           LEFT JOIN d{i} d ON d.l = e.l AND d.r = e.r
           LEFT JOIN s{i} su ON su.v = e.l
           LEFT JOIN s{i} sv ON sv.v = e.r
           WHERE d.l IS NULL
             AND NOT (coalesce(NOT su.ctr, FALSE)
                      AND coalesce(NOT sv.ctr, FALSE)))""")
    mg_union = "\n           UNION ALL ".join(
        f"SELECT * FROM mg{i}" for i in range(1, _CENTER_ROUNDS + 1))
    parts.append(f""",
  mg AS MATERIALIZED ({mg_union}),
  msym AS (SELECT lpad(CAST(c1 AS VARCHAR), 12, '0') AS a,
                  lpad(CAST(c2 AS VARCHAR), 12, '0') AS b FROM mg
           UNION SELECT lpad(CAST(c2 AS VARCHAR), 12, '0'),
                        lpad(CAST(c1 AS VARCHAR), 12, '0') FROM mg
           UNION SELECT lpad(CAST(c1 AS VARCHAR), 12, '0'),
                        lpad(CAST(c1 AS VARCHAR), 12, '0') FROM mg
           UNION SELECT lpad(CAST(c2 AS VARCHAR), 12, '0'),
                        lpad(CAST(c2 AS VARCHAR), 12, '0') FROM mg),
  reach(a, b) AS (
    SELECT a, b FROM msym
    UNION
    SELECT r.a, m.b FROM reach r JOIN msym m ON r.b = m.a),
  lab AS (SELECT CAST(a AS BIGINT) AS c_old,
                 CAST(min(b) AS BIGINT) AS c_new
          FROM reach GROUP BY a),
  stf AS (SELECT s.v, coalesce(l.c_new, s.c) AS cluster, s.ctr
          FROM s{_CENTER_ROUNDS} s
          LEFT JOIN lab l ON l.c_old = s.c)
  SELECT d.doc_id,
         CAST(coalesce(stf.cluster, d.doc_id) AS BIGINT) AS cluster,
         coalesce(stf.ctr, TRUE) AS is_center
  FROM documents d
  LEFT JOIN stf ON stf.v = d.doc_id""")
    return "".join(parts)


@q("dedup_merge_center", _merge_center_oracle())
def dedup_merge_center(spark, sf_dir):
    """Merge-center clustering (cluster.merge_center_clusters,
    Hassanzadeh-Miller VLDB J. '09) over the near-dup shingle graph:
    CENTER's scan, except a decided record touching another
    cluster's CENTER merges the two clusters — recall between
    CENTER's strictness and CC's chaining. On THIS corpus the
    near-dup graph is isolated pairs, so the hash gate exercises the
    full scan + relabel plumbing with an empty merge set; the merge
    path itself is pinned by the sequential union-find equality and
    bridge pytest cases. Registry + pytest + oracle verified on
    demand; demoted from the full driver window (see
    __spark_entry__)."""
    import tempfile
    from ..cluster import merge_center_clusters
    docs, sims = _sh_sims(spark, sf_dir)
    return merge_center_clusters(
        docs.select("doc_id"), sims.filter(F.col("sim") >= _CANOPY_T2),
        max_rounds=_CENTER_ROUNDS,
        ckpt_dir=tempfile.mkdtemp(prefix="semlink_mcq_"))


# Planted-derivation corpus for containment (both engines derive it
# identically): every ninth sufficiently long document spawns a
# snippet doc whose text is tokens 4..11 of the original — a
# guaranteed proper token-substring — so the operator's output is
# non-empty and position-verified at every sf.
_CONTAIN_SQL = """
  WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), ' +'),
                       x -> x <> '') AS toks
    FROM documents),
  corpus AS (
    SELECT doc_id, array_to_string(toks, ' ') AS norm, len(toks) AS tc
    FROM tok
    UNION ALL
    SELECT doc_id + 1000000, array_to_string(toks[4:11], ' '), 8
    FROM tok WHERE doc_id % 9 = 0 AND len(toks) >= 12),
  nd AS (SELECT min(doc_id) AS id, norm, min(tc) AS tc
         FROM corpus GROUP BY norm),
  pairs AS (
    SELECT a.id AS contained_id, b.id AS cid
    FROM nd a JOIN nd b
      ON a.norm <> b.norm
     AND position((' ' || a.norm || ' ') IN (' ' || b.norm || ' ')) > 0
    WHERE a.tc >= 3)
  SELECT contained_id, min(cid) AS container_id,
         CAST(count(*) AS BIGINT) AS n_containers
  FROM pairs GROUP BY contained_id
"""


@q("dedup_containment", _CONTAIN_SQL)
def dedup_containment(spark, sf_dir):
    """Substring-containment dedup (dd.containment_dedup): exact-dup
    collapse → rarest-shingle single-probe blocking → boundary-safe
    instr verify, against a brute-force all-pairs DuckDB oracle — the
    scalable plan must reproduce the naive quadratic answer exactly.
    Corpus = documents plus planted snippet docs (tokens 4..11 of
    every ninth long doc). Registry + pytest + oracle verified on
    demand; demoted from the driver window (see __spark_entry__)."""
    from ..datapipe.dedup import _tokens, containment_dedup
    d = _docs(spark, sf_dir)
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    base = d.select("doc_id", toks.alias("toks"))
    snippets = (base
                .filter((F.col("doc_id") % 9 == 0) & (F.size("toks") >= 12))
                .select((F.col("doc_id") + 1000000).alias("doc_id"),
                        F.concat_ws(" ", F.slice("toks", 4, 8))
                        .alias("text")))
    corpus = (base.select("doc_id",
                          F.concat_ws(" ", "toks").alias("text"))
              .unionByName(snippets))
    return containment_dedup(corpus)


_STAB_LOOSE = _CANOPY_T1   # >= 4 shared shingles: loose graph
_STAB_STRICT = _CANOPY_T2  # >= 20 shared shingles: strict graph


@q("dedup_cluster_stability", f"""
  WITH RECURSIVE {_SHSIMS_SQL},
  le AS (SELECT 'd' || lpad(CAST(id_l AS VARCHAR), 6, '0') AS src,
                'd' || lpad(CAST(id_r AS VARCHAR), 6, '0') AS dst
         FROM sims WHERE sim >= {_STAB_LOOSE}),
  lsym AS (SELECT src, dst FROM le UNION SELECT dst, src FROM le
           UNION SELECT src, src FROM le UNION SELECT dst, dst FROM le),
  lreach(a, b) AS (
    SELECT src, dst FROM lsym
    UNION
    SELECT r.a, s.dst FROM lreach r JOIN lsym s ON r.b = s.src),
  lcl AS (SELECT a AS id, min(b) AS loose_cluster FROM lreach GROUP BY a),
  se AS (SELECT 'd' || lpad(CAST(id_l AS VARCHAR), 6, '0') AS src,
                'd' || lpad(CAST(id_r AS VARCHAR), 6, '0') AS dst
         FROM sims WHERE sim >= {_STAB_STRICT}),
  ssym AS (SELECT src, dst FROM se UNION SELECT dst, src FROM se
           UNION SELECT src, src FROM se UNION SELECT dst, dst FROM se),
  sreach(a, b) AS (
    SELECT src, dst FROM ssym
    UNION
    SELECT r.a, s.dst FROM sreach r JOIN ssym s ON r.b = s.src),
  scl AS (SELECT a AS id, min(b) AS strict_cluster FROM sreach GROUP BY a)
  SELECT l.loose_cluster, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT coalesce(s.strict_cluster, l.id)) AS BIGINT)
           AS n_strict,
         count(DISTINCT coalesce(s.strict_cluster, l.id)) > 1
           AS is_overmerge
  FROM lcl l LEFT JOIN scl s ON l.id = s.id
  GROUP BY l.loose_cluster
""")
def dedup_cluster_stability(spark, sf_dir):
    """Threshold-sweep cluster stability — the over-merge diagnostic:
    the shingle-sim graph is CC-clustered at a loose AND a strict
    threshold, and each loose cluster reports how many strict
    sub-clusters it fissions into (n_strict > 1 = docs glued only by
    weak/chained evidence — exactly what a curation pass reviews
    before deleting "duplicates"). Both clusterings run through the
    SAME checkpointed large/small-star CC; docs absent from the
    strict graph stay their own strict singleton. The oracle
    recomputes both transitive closures as recursive CTEs and must
    match per-cluster counts exactly. Registry + pytest + oracle
    verified on demand; demoted from the driver window (see
    __spark_entry__)."""
    import tempfile
    from ..cluster import run_connected_components
    from ..config import SemlinkConfig
    _docs_df, sims = _sh_sims(spark, sf_dir)
    ident = lambda c: F.concat(F.lit("d"),
                               F.lpad(F.col(c).cast("string"), 6, "0"))

    def cc(thr, tag):
        edges = (sims.filter(F.col("sim") >= thr)
                 .select(ident("id_l").alias("src"),
                         ident("id_r").alias("dst")))
        return run_connected_components(
            edges, SemlinkConfig(),
            ckpt_dir=tempfile.mkdtemp(prefix=f"semlink_stab_{tag}_"))

    loose = cc(_STAB_LOOSE, "l").select(
        F.col("mention_id").alias("id"),
        F.col("cluster_id").alias("loose_cluster"))
    strict = cc(_STAB_STRICT, "s").select(
        F.col("mention_id").alias("id"),
        F.col("cluster_id").alias("strict_cluster"))
    j = (loose.join(strict, "id", "left")
         .withColumn("strict_cluster",
                     F.coalesce("strict_cluster", "id")))
    return (j.groupBy("loose_cluster")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("strict_cluster").cast("bigint")
                 .alias("n_strict"),
                 (F.countDistinct("strict_cluster") > 1)
                 .alias("is_overmerge")))


_SHINGLE_ALL_SQL = """
  SELECT doc_id, unnest(
           CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i : i + 2], ' '))
           ELSE [array_to_string(toks, ' ')] END) AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(coalesce(text,
                                    '')), ' +'), x -> x <> '') AS toks
        FROM documents)
"""

_LSH_PAIRS_BODY = f"""
  b AS ({_BUCKET_SQL}),
  sized AS (SELECT band, bucket FROM b GROUP BY band, bucket
            HAVING count(*) <= 64),
  cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
           FROM (SELECT b.* FROM b JOIN sized USING (band, bucket)) l
           JOIN (SELECT b.* FROM b JOIN sized USING (band, bucket)) r
             ON l.band = r.band AND l.bucket = r.bucket
            AND l.doc_id < r.doc_id)
"""


@q("dedup_weighted_jaccard", f"""
  WITH {_LSH_PAIRS_BODY},
  occ AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS c
          FROM ({_SHINGLE_ALL_SQL}) GROUP BY doc_id, s),
  tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS w
          FROM occ GROUP BY doc_id),
  ov AS (SELECT cand.left_id, cand.right_id,
                CAST(sum(least(l.c, r.c)) AS BIGINT) AS wmin
         FROM cand
         JOIN occ l ON l.doc_id = cand.left_id
         JOIN occ r ON r.doc_id = cand.right_id AND r.s = l.s
         GROUP BY cand.left_id, cand.right_id),
  wm AS (SELECT cand.left_id, cand.right_id,
                coalesce(ov.wmin, 0) AS wmin
         FROM cand LEFT JOIN ov USING (left_id, right_id))
  SELECT wm.left_id, wm.right_id, wm.wmin,
         tl.w AS w_l, tr.w AS w_r,
         CAST(ROUND(CAST(wm.wmin AS DOUBLE)
                    / (tl.w + tr.w - wm.wmin) * 1000000) AS BIGINT)
           AS wjac6
  FROM wm JOIN tot tl ON tl.doc_id = wm.left_id
  JOIN tot tr ON tr.doc_id = wm.right_id
""")
def dedup_weighted_jaccard(spark, sf_dir):
    """Multiset-Jaccard verify (dd.weighted_jaccard) on the LSH
    candidate pairs — bag semantics over shingle occurrence counts,
    Σmax derived as w_l + w_r − Σmin so only Σmin joins. Registry +
    pytest + oracle verified on demand; demoted from the driver
    window (see __spark_entry__)."""
    d = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(d)
    pairs = dd.lsh_candidate_pairs(dd.lsh_buckets(sigs))
    return dd.weighted_jaccard(d, pairs).select(
        "left_id", "right_id", "wmin", "w_l", "w_r", "wjac6")


_VERDICT_T = _CANOPY_T2   # near-dup edge: >= 20 shared distinct shingles

# corpus/nd/containment head shared verbatim with _CONTAIN_SQL
_VERDICT_HEAD = """
  tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), ' +'),
                       x -> x <> '') AS toks
    FROM documents),
  corpus AS (
    SELECT doc_id, array_to_string(toks, ' ') AS norm, len(toks) AS tc
    FROM tok
    UNION ALL
    SELECT doc_id + 1000000, array_to_string(toks[4:11], ' '), 8
    FROM tok WHERE doc_id % 9 = 0 AND len(toks) >= 12
    UNION ALL
    SELECT doc_id + 2000000, array_to_string(toks, ' '), len(toks)
    FROM tok WHERE doc_id % 13 = 0),
  nd AS (SELECT norm, min(doc_id) AS rep, min(tc) AS tc
         FROM corpus GROUP BY norm),
  cont AS (
    SELECT DISTINCT a.rep AS rep
    FROM nd a JOIN nd b
      ON a.norm <> b.norm
     AND position((' ' || a.norm || ' ') IN (' ' || b.norm || ' ')) > 0
    WHERE a.tc >= 3),
  ndt AS (SELECT rep, tc,
                 CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split(norm, ' ') END AS toks
          FROM nd),
  shx AS (SELECT rep, unnest(list_distinct(
            CASE WHEN tc >= 3 THEN
              list_transform(generate_series(1, tc - 2),
                             i -> array_to_string(toks[i : i + 2], ' '))
            ELSE [array_to_string(toks, ' ')] END)) AS s
          FROM ndt),
"""


@q("dedup_verdict", f"""
  WITH RECURSIVE {_VERDICT_HEAD}
  sims AS MATERIALIZED (
    SELECT a.rep AS id_l, b.rep AS id_r
    FROM shx a JOIN shx b ON a.s = b.s AND a.rep < b.rep
    GROUP BY 1, 2 HAVING count(*) >= {_VERDICT_T}),
  e AS (SELECT 'd' || lpad(CAST(id_l AS VARCHAR), 8, '0') AS src,
               'd' || lpad(CAST(id_r AS VARCHAR), 8, '0') AS dst
        FROM sims),
  sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e
          UNION SELECT src, src FROM e UNION SELECT dst, dst FROM e),
  reach(a, b) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
  scl AS (SELECT a AS id, min(b) AS cl FROM reach GROUP BY a)
  SELECT doc_id, reason, reason = 'keep' AS keep FROM (
    SELECT c.doc_id,
           CASE WHEN c.doc_id <> nd.rep THEN 'exact_dup'
                WHEN cont.rep IS NOT NULL THEN 'contained'
                WHEN scl.cl IS NOT NULL
                     AND scl.cl <> 'd' || lpad(CAST(nd.rep AS VARCHAR),
                                               8, '0')
                  THEN 'near_dup'
                ELSE 'keep' END AS reason
    FROM corpus c JOIN nd USING (norm)
    LEFT JOIN cont ON cont.rep = nd.rep
    LEFT JOIN scl
      ON scl.id = 'd' || lpad(CAST(nd.rep AS VARCHAR), 8, '0'))
""")
def dedup_verdict(spark, sf_dir):
    """The composed curation DECISION SURFACE: per document, keep or
    drop with the priority reason a pipeline audit wants —
    'exact_dup' (not its normalized-text group's min-id keeper) >
    'contained' (token-substring of a surviving superset, C24) >
    'near_dup' (non-minimum member of a strict shingle-graph CC
    cluster) > 'keep'. One exact-dup groupBy, the rarest-shingle
    containment probe, and the SAME checkpointed large/small-star CC;
    the oracle recomputes all three stages (containment brute-forced,
    CC as a recursive CTE) in one statement, so the composition is
    hash-gated end-to-end like dedup_near_dup_clusters. Runs over the
    planted corpus (snippet docs for 'contained', exact copies —
    every 13th doc at +2000000 — for 'exact_dup') so every reason
    occurs. Registry + pytest
    + oracle verified on demand; demoted from the driver window (see
    __spark_entry__)."""
    import tempfile
    from ..cluster import run_connected_components
    from ..config import SemlinkConfig
    from ..datapipe.dedup import _tokens, containment_dedup
    d = _docs(spark, sf_dir)
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    base0 = d.select("doc_id", toks.alias("toks"))
    snippets = (base0
                .filter((F.col("doc_id") % 9 == 0) & (F.size("toks") >= 12))
                .select((F.col("doc_id") + 1000000).alias("doc_id"),
                        F.concat_ws(" ", F.slice("toks", 4, 8))
                        .alias("text")))
    copies = (base0.filter(F.col("doc_id") % 13 == 0)
              .select((F.col("doc_id") + 2000000).alias("doc_id"),
                      F.concat_ws(" ", "toks").alias("text")))
    corpus = (base0.select("doc_id",
                           F.concat_ws(" ", "toks").alias("text"))
              .unionByName(snippets).unionByName(copies))
    norm = F.concat_ws(" ", _tokens(F.coalesce(F.col("text"), F.lit(""))))
    base = corpus.select("doc_id", norm.alias("norm"))
    nd = base.groupBy("norm").agg(F.min("doc_id").alias("rep"))
    cont = (containment_dedup(corpus)
            .select(F.col("contained_id").alias("rep"))
            .withColumn("_contained", F.lit(True)))
    sh = dd.shingles_exploded(
        nd.select(F.col("rep").alias("_id"), F.col("norm")),
        "_id", "norm").distinct()
    sims = (sh.selectExpr("_id as id_l", "s")
            .join(sh.selectExpr("_id as id_r", "s"), "s")
            .filter(F.col("id_l") < F.col("id_r"))
            .groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).alias("sim"))
            .filter(F.col("sim") >= _VERDICT_T))
    ident8 = lambda c: F.concat(F.lit("d"),
                                F.lpad(F.col(c).cast("string"), 8, "0"))
    edges = sims.select(ident8("id_l").alias("src"),
                        ident8("id_r").alias("dst"))
    cc = run_connected_components(
        edges, SemlinkConfig(),
        ckpt_dir=tempfile.mkdtemp(prefix="semlink_verdict_cc_"))
    j = (base.join(nd, "norm")
         .join(cont, "rep", "left")
         .join(cc.select(F.col("mention_id").alias("_ccid"),
                         F.col("cluster_id")),
               ident8("rep") == F.col("_ccid"), "left"))
    reason = (F.when(F.col("doc_id") != F.col("rep"), "exact_dup")
              .when(F.col("_contained"), "contained")
              .when(F.col("cluster_id").isNotNull()
                    & (F.col("cluster_id") != ident8("rep")), "near_dup")
              .otherwise("keep"))
    return (j.select("doc_id", reason.alias("reason"))
            .withColumn("keep", F.col("reason") == "keep"))
