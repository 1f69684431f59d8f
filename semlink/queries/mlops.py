"""ML (M1/M2, X1/X7/T5 feature assembly) + ops (O1/O2) queries."""
from __future__ import annotations

from pyspark.sql import functions as F

from . import SCALE, _docs, _r6, _read, q


_ML_W = (0.8, -0.5, 0.3)
_ML_B = 0.1

@q("ops_metrics", """
  SELECT 'run' AS run_id, 'documents' AS name,
         CAST(count(*) AS BIGINT) AS "rows" FROM documents
  UNION ALL
  SELECT 'run', 'events', CAST(count(*) AS BIGINT) FROM events
""")
def ops_metrics(spark, sf_dir):
    """O2: the MetricsCollector counts table, oracle-checked against
    plain COUNT(*) aggregates."""
    from ..ops import MetricsCollector
    mc = MetricsCollector(spark)
    with mc.stage("scan"):
        mc.rows("documents", _docs(spark, sf_dir))
        mc.rows("events", _read(spark, sf_dir, "events"))
    return mc.to_dataframes()["metrics_counts"]


@q("ops_lineage", None)   # rows-only: partition layout is engine-specific
def ops_lineage(spark, sf_dir):
    """O1: per-partition row counts + input files for the documents
    scan (skew/audit surface; no ANSI-SQL equivalent by design)."""
    from ..ops import MetricsCollector
    mc = MetricsCollector(spark)
    return mc.lineage_snapshot("scan_documents", _docs(spark, sf_dir),
                               with_files=True)


_INITCAP_DUCK = """
  array_to_string(list_transform(string_split(p_name, ' '),
    w -> CASE WHEN length(w) = 0 THEN w
              ELSE upper(w[1]) || lower(w[2:]) END), ' ')
"""

@q("ml_logistic_fit", """
  SELECT * FROM (VALUES
    ('w0',   CAST(7430767 AS BIGINT)),
    ('w1',   CAST(-3387240 AS BIGINT)),
    ('w2',   CAST(1131348 AS BIGINT)),
    ('bias', CAST(-2330039 AS BIGINT))) AS t(param, value6)
""")
def ml_logistic_fit(spark, sf_dir):
    """M2: the deterministic driver-side logistic fit on a fixed
    synthetic labeled sample (Spark generates + collects the sample;
    fit_logistic runs 500 fixed gradient steps). The oracle is the
    pinned golden weight vector — bit-deterministic because sample
    generation and the fit are pure IEEE double arithmetic in a fixed
    order. A regression in feature extraction, collect order, or the
    optimizer changes the weights and fails the hash."""
    import numpy as np
    from ..learning import fit_logistic
    d = (spark.range(200).select(
        "id",
        (((F.col("id") * 7) % 32 + 1) / 32.0).alias("x0"),
        (((F.col("id") * 13) % 97) / 97.0).alias("x1"),
        (((F.col("id") * 29) % 53) / 53.0).alias("x2"))
        .withColumn("y", ((2.0 * F.col("x0") - F.col("x1")
                           + 0.5 * F.col("x2")) > 0.7).cast("double"))
        .orderBy("id"))
    rows = d.collect()
    X = np.array([[r.x0, r.x1, r.x2] for r in rows])
    y = np.array([r.y for r in rows])
    w, b = fit_logistic(X, y)
    out = [("w0", int(round(w[0] * SCALE))),
           ("w1", int(round(w[1] * SCALE))),
           ("w2", int(round(w[2] * SCALE))),
           ("bias", int(round(b * SCALE)))]
    return spark.createDataFrame(out, "param string, value6 long")


_STUMP_FEATS = ("(CAST(length(p_name) AS DOUBLE) / 32.0)",
                "(CAST(p_retailprice AS DOUBLE) / 2000.0)",
                "(CAST(p_size AS DOUBLE) / 50.0)")

# the round-4 fitted ensemble (golden constants — recompute via
# tests/test_learning.py's mirror if the fit or sample generator
# changes); alpha carries full double precision so the apply oracle's
# expression tree is bit-identical on both engines
_STUMPS = [
    {"rnd": 0, "f_idx": 0, "thr": 0.50, "polarity": 1,
     "alpha": 0.9729550745276566},
    {"rnd": 1, "f_idx": 1, "thr": 0.55, "polarity": -1,
     "alpha": 0.6328331869060225},
    {"rnd": 2, "f_idx": 0, "thr": 0.35, "polarity": 1,
     "alpha": 0.67625228920265},
    {"rnd": 3, "f_idx": 1, "thr": 0.30, "polarity": -1,
     "alpha": 0.46067850406077904},
    {"rnd": 4, "f_idx": 0, "thr": 0.70, "polarity": 1,
     "alpha": 0.4576235302897917},
    {"rnd": 5, "f_idx": 0, "thr": 0.25, "polarity": 1,
     "alpha": 0.6544718614880874},
]


@q("ml_boosted_stumps_fit", """
  SELECT * FROM (VALUES
    (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(500000 AS BIGINT),
     CAST(1 AS BIGINT), CAST(972955 AS BIGINT)),
    (1, 1, 550000, -1, 632833),
    (2, 0, 350000, 1, 676252),
    (3, 1, 300000, -1, 460679),
    (4, 0, 700000, 1, 457624),
    (5, 0, 250000, 1, 654472)) AS t(rnd, f_idx, thr6, polarity, alpha6)
""")
def ml_boosted_stumps_fit(spark, sf_dir):
    """M2 tree-ensemble fidelity (VERDICT r03 missing #5): DISTRIBUTED
    AdaBoost over decision stumps on the deterministic 200-row sample —
    per round ONE map-side-combined aggregation over a broadcast
    (feature, threshold) grid scores every stump; scaled-bigint sample
    weights make each Spark sum integer-exact, so the fit is
    bit-deterministic and the oracle is the pinned golden stump table
    (pytest holds the numpy mirror that regenerates it)."""
    from ..learning import fit_boosted_stumps
    d = (spark.range(200).select(
        "id",
        (((F.col("id") * 7) % 32 + 1) / 32.0).alias("x0"),
        (((F.col("id") * 13) % 97) / 97.0).alias("x1"),
        (((F.col("id") * 29) % 53) / 53.0).alias("x2"))
        .withColumn("y", F.when((2.0 * F.col("x0") - F.col("x1")
                                 + 0.5 * F.col("x2")) > 0.7, 1).otherwise(-1)))
    st = fit_boosted_stumps(d, ["x0", "x1", "x2"], "y", rounds=6)
    return spark.createDataFrame(
        [(s["rnd"], s["f_idx"], int(round(s["thr"] * SCALE)),
          s["polarity"], int(round(s["alpha"] * SCALE))) for s in st],
        "rnd long, f_idx long, thr6 long, polarity long, alpha6 long")


# CAST(... AS DOUBLE) on the alpha literals: DuckDB parses
# high-precision numeric literals as DECIMAL, and decimal margin
# arithmetic overflows at the *1e6 scaling (and wouldn't be
# IEEE-identical to Spark's double literals anyway)
_STUMP_APPLY_SQL = " + ".join(
    f"CAST({s['alpha'] * s['polarity']!r} AS DOUBLE) * "
    f"(CASE WHEN {_STUMP_FEATS[s['f_idx']]} > {s['thr']!r} "
    "THEN 1 ELSE -1 END)"
    for s in _STUMPS)


# ------------------------------------------------------ consolidated
# (window-budget consolidation — see queries/rl.py note)

@q("ml_logistic_features", f"""
  SELECT p_partkey,
         CAST(len(string_split(p_name, ' ')) AS BIGINT) AS f_len_words,
         CAST(length(p_name) AS BIGINT) AS f_len_chars,
         CAST(CASE WHEN p_name = ({_INITCAP_DUCK}) THEN 1 ELSE 0 END
              AS BIGINT) AS f_is_initcap,
         CAST(CASE WHEN p_name = lower(p_name) THEN 1 ELSE 0 END
              AS BIGINT) AS f_is_lower,
         CAST(ROUND(p_retailprice / 2000.0 * {SCALE}) AS BIGINT) AS feat0_6,
         CAST(ROUND(CAST(p_size AS DOUBLE) / 50.0 * {SCALE}) AS BIGINT)
           AS feat1_6,
         CAST(ROUND(p_retailprice / 4000.0 * {SCALE}) AS BIGINT) AS feat2_6,
         CAST(len(string_split(p_name, ' ')) AS BIGINT) * {SCALE} AS feat3_6,
         CAST(length(p_name) AS BIGINT) * {SCALE} AS feat4_6,
         CAST(CASE WHEN p_name = ({_INITCAP_DUCK}) THEN 1 ELSE 0 END
              AS BIGINT) * {SCALE} AS feat5_6,
         CAST(CASE WHEN p_name = lower(p_name) THEN 1 ELSE 0 END
              AS BIGINT) * {SCALE} AS feat6_6,
         CAST(0 AS BIGINT) AS feat7_6,
         CAST(ROUND(1.0 / (1.0 + exp(-(
             {_ML_W[0]} * (CAST(length(p_name) AS DOUBLE) / 32.0)
           + {_ML_W[1]} * (p_retailprice / 2000.0)
           + {_ML_W[2]} * (CAST(p_size AS DOUBLE) / 50.0)
           + {_ML_B}))) * {SCALE}) AS BIGINT) AS score6,
         CAST(ROUND((0.0 + {_STUMP_APPLY_SQL}) * {SCALE}) AS BIGINT)
           AS margin6,
         CASE WHEN (0.0 + {_STUMP_APPLY_SQL}) > 0 THEN 1 ELSE -1 END
           AS pred
  FROM part
""")
def ml_logistic_features(spark, sf_dir):
    """X1 + X7 + T5 + M1 in one entry: the fixed-order feature-vector
    assembly, the Arrow pandas-UDF σ(Xw+b) model application AND the
    boosted-stump ensemble margin (stump_score_expr), all joined per
    key."""
    import numpy as np
    from ..learning import apply_model, assemble_features, stump_score_expr
    p = _read(spark, sf_dir, "part")
    cands = p.select(
        "p_partkey",
        F.col("p_name").alias("ngram"),
        (F.col("p_retailprice") / 2000.0).alias("prior_prob"),
        (F.col("p_size").cast("double") / 50.0).alias("link_prob"),
        (F.col("p_retailprice") / 4000.0).alias("sense_prob"))
    feats = assemble_features(cands).select(
        "p_partkey",
        F.col("f_len_words").cast("bigint").alias("f_len_words"),
        F.col("f_len_chars").cast("bigint").alias("f_len_chars"),
        F.col("f_is_initcap").cast("bigint").alias("f_is_initcap"),
        F.col("f_is_lower").cast("bigint").alias("f_is_lower"),
        *[_r6(F.element_at("features", i + 1)).alias(f"feat{i}_6")
          for i in range(8)])
    mfeats = p.select("p_partkey", F.array(
        F.length("p_name").cast("double") / 32.0,
        F.col("p_retailprice") / 2000.0,
        F.col("p_size").cast("double") / 50.0).alias("features"))
    scored = apply_model(mfeats, np.array(_ML_W), _ML_B).select(
        "p_partkey", _r6(F.col("learning_score")).alias("score6"))
    sfeats = p.select(
        "p_partkey",
        (F.length("p_name").cast("double") / 32.0).alias("sf0"),
        (F.col("p_retailprice") / 2000.0).alias("sf1"),
        (F.col("p_size").cast("double") / 50.0).alias("sf2"))
    margin = stump_score_expr(_STUMPS, ["sf0", "sf1", "sf2"])
    stumps = sfeats.select(
        "p_partkey", _r6(margin).alias("margin6"),
        F.when(margin > 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("long").alias("pred"))
    return feats.join(scored, "p_partkey").join(stumps, "p_partkey")
