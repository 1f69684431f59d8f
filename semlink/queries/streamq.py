"""Streaming queries (§2.10) — rows-only by design: the streaming
engine has no ANSI-SQL oracle; determinism is pinned by pytest."""
from __future__ import annotations

from pyspark.sql import functions as F

from . import q


@q("stream_rolling_context", None)   # rows-only: stateful streaming engine
def stream_rolling_context(spark, sf_dir):
    """§2.10: the custom applyInPandasWithState rolling-context
    operator (streaming.rolling_context) — bounded per-conversation
    entity state, the reference's cross-request `context` parameter.
    Deterministic on the fixture; state-store execution is
    engine-specific — rows-only by design."""
    import tempfile
    from semlink.fixtures import generate, to_spark
    from semlink.linking import candidate_join, generate_mentions
    from semlink.streaming import rolling_context
    d = to_spark(spark, generate("tiny"))
    cands = (candidate_join(
        generate_mentions(d["transcripts"]), d["anchors"])
        .join(d["transcripts"].select("conv_id", "turn_idx", "ts"),
              ["conv_id", "turn_idx"])
        .select("conv_id", "target_id", "ts"))
    src = tempfile.mkdtemp(prefix="semlink_q_rc_src_")
    ckpt = tempfile.mkdtemp(prefix="semlink_q_rc_ckpt_")
    cands.coalesce(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(cands.schema).parquet(src)
    out = rolling_context(stream, max_entities=16)
    qy = (out.select("conv_id", "n_ctx",
                     F.concat_ws(",", F.col("ctx_entities").cast("array<string>"))
                     .alias("ctx"))
          .writeStream.format("memory").queryName("q_rc")
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    if not qy.awaitTermination(180):
        qy.stop()
        raise RuntimeError('streaming query timed out')
    return spark.sql("SELECT * FROM q_rc")


@q("stream_dedup_exact", None)   # rows-only: streaming state engine
def stream_dedup_exact(spark, sf_dir):
    """Ingest-time exact dedup via dropDuplicatesWithinWatermark
    (bounded digest state, watermark-evicted) — duplicate docs planted
    across micro-batches are suppressed. The emitted set is the
    DISTINCT surviving digests: which doc_id wins a duplicate group is
    arrival-order-dependent (first-wins state, like any streaming
    dedup), so the entry reports only the order-invariant survivor
    digest set; engine-specific execution — rows-only by design
    (pytest pins in-batch, cross-batch, and null=='' digest cases)."""
    import datetime
    import tempfile
    from semlink.streaming import stream_dedup_documents
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(i, f"text {i % 7}", t0 + datetime.timedelta(seconds=i))
            for i in range(40)]
    schema = "doc_id long, text string, ts timestamp"
    src = tempfile.mkdtemp(prefix="semlink_q_sdd_src_")
    ckpt = tempfile.mkdtemp(prefix="semlink_q_sdd_ckpt_")
    spark.createDataFrame(rows, schema).coalesce(2) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_dedup_documents(stream)
    qy = (out.select("doc_id", "text_hash").writeStream
          .format("memory").queryName("q_sdd")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    if not qy.awaitTermination(120):
        qy.stop()
        raise RuntimeError('streaming query timed out')
    return spark.sql("SELECT DISTINCT text_hash FROM q_sdd")


@q("stream_link_sessions", None)   # rows-only: streaming engine
def stream_link_sessions(spark, sf_dir):
    """§2.10 composed (VERDICT r04 next #7): one source write feeds
    TWO availableNow streaming passes — raw candidate links
    (stream_candidates) and session-windowed per-conversation counts
    (windowed_mention_counts, which re-runs the linking join per the
    streaming API) — returned as window rows joined with exact
    per-conversation candidate totals, so the one driver-recorded
    streaming row witnesses the whole §2.10 batch==stream family;
    engine-specific execution — rows-only by design."""
    import tempfile
    from semlink.fixtures import generate, to_spark
    from semlink.streaming import stream_candidates, windowed_mention_counts
    d = to_spark(spark, generate("tiny"))
    src = tempfile.mkdtemp(prefix="semlink_q_slnk_src_")
    d["transcripts"].coalesce(2).write.mode("overwrite").parquet(src)

    def run(df, name):
        ckpt = tempfile.mkdtemp(prefix=f"semlink_q_slnk_{name}_")
        qy = (df.writeStream.format("memory").queryName(name)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
        if not qy.awaitTermination(180):
            qy.stop()
            raise RuntimeError('streaming query timed out')
        return spark.sql(f"SELECT * FROM {name}")

    stream = spark.readStream.schema(d["transcripts"].schema).parquet(src)
    cands = run(stream_candidates(stream, d["anchors"])
                .select("conv_id", "mention_id", "target_id"), "q_slnk_cands")
    stream2 = spark.readStream.schema(d["transcripts"].schema).parquet(src)
    wins = run(windowed_mention_counts(stream2, d["anchors"],
                                       gap="30 minutes")
               .select("conv_id", F.col("w.start").alias("w_start"),
                       F.col("w.end").alias("w_end"),
                       "n_candidates", "n_entities"), "q_slnk_wins")
    totals = cands.groupBy("conv_id").agg(
        F.count("*").alias("conv_cands"),
        F.countDistinct("target_id").alias("conv_targets"))
    return wins.join(totals, "conv_id")


def _inc_oracle():
    """The streaming incremental-link entry reuses rl_incremental_link's
    FULL SQL oracle verbatim: per-record independence makes the union
    of micro-batch outputs bit-identical to the batch run, so this is
    the one streaming entry with an exact hash gate."""
    from . import REGISTRY
    return REGISTRY["rl_incremental_link"][1]


@q("stream_incremental_link", _inc_oracle())
def stream_incremental_link(spark, sf_dir):
    """§2.10 + C15: STREAMING incremental ER — the corrupted
    duplicates arrive as a multi-micro-batch file stream
    (maxFilesPerTrigger=1 over a multi-file source) and each batch
    resolves against the static originals via
    streaming.incremental_link_batches; assignments append per batch
    and are read back as one table. Hash-gated against the SAME
    DuckDB oracle as the batch entry (per-record independence ⇒
    stream ≡ batch). Demoted from the driver window (see
    __spark_entry__)."""
    import tempfile
    from ..iterative import incremental_link  # noqa: F401 (doc link)
    from ..streaming import incremental_link_batches
    from .linkeval import _mr_match, _mr_score_col, _records
    recs = _records(spark, sf_dir)
    orig = recs.filter(F.col("rec_id") % 2 == 0)
    new = recs.filter(F.col("rec_id") % 2 == 1)
    reps = orig.select(F.col("rec_id").alias("cluster_id"),
                       "name", "seg", "bal_cents", "nat")
    src = tempfile.mkdtemp(prefix="semlink_sinc_src_")
    ckpt = tempfile.mkdtemp(prefix="semlink_sinc_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="semlink_sinc_out_")
    new.repartition(3).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def sink(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    process = incremental_link_batches(
        reps, scheme=lambda df: F.col("nat").cast("string"),
        match_cond=_mr_match, score_col=_mr_score_col(),
        carry_cols=("name", "seg", "bal_cents"), sink=sink)
    qy = (stream.writeStream.foreachBatch(process)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    if not qy.awaitTermination(300):
        qy.stop()
        raise RuntimeError('streaming query timed out')
    return spark.read.parquet(out_dir)
