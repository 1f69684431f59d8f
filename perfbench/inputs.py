"""Seeded benchmark inputs, written with pyarrow and cached by key.

``pipeline_full`` reads the engine's ``small`` fixture replicated R
times, in the style of ``bench.ensure_bench_fixture``: every replica
gets its own conversation ids, so block keys are shared across replicas
and blocks grow with R. The seed salts the conversation-id remap and
the row order of the written transcripts, so each seed is a different
input with the same ground truth (160 entities). The engine only ever
sees the parquet tables.

The same (seed, R, salt) always gives byte-identical files. A cache
entry is keyed by those plus a hash of the fixture generator's source,
and is only reused when every table's parquet row count matches the
manifest written with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_FILES = 4

_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
          "boolean": pa.bool_(), "double": pa.float64(),
          "timestamp": pa.timestamp("us", tz="UTC")}
TABLES = ("transcripts", "anchors", "page_links", "labeled_pairs")


def arrow_schema(ddl: str) -> pa.Schema:
    """``"a string, b long"`` (the fixture's Spark DDL) → Arrow schema."""
    cols = [c.split() for c in ddl.split(",")]
    return pa.schema([(name, _TYPES[typ]) for name, typ in cols])


def source_hash(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _conv_map(convs: list[str], reps: int, seed: int, salt: str) -> dict:
    out = {}
    for rep in range(reps):
        for c in convs:
            d = hashlib.blake2b(f"{salt}|{seed}|{rep}|{c}".encode(),
                                digest_size=6).hexdigest()
            out[(rep, c)] = "c" + d
    if len(set(out.values())) != len(out):
        raise RuntimeError("conversation-id remap collided")
    return out


def _remap_mention(mid: str, rep: int, cmap: dict) -> str:
    conv, rest = mid.split(":", 1)
    return f"{cmap[(rep, conv)]}:{rest}"


def fixture_tables(scale: str, reps: int, seed: int, salt: str = "timed") -> dict:
    """The replicated, seed-salted fixture as Arrow tables."""
    from semlink.fixtures import Fixture, generate
    fx = generate(scale)
    convs = sorted({r[0] for r in fx.transcripts})
    cmap = _conv_map(convs, reps, seed, salt)
    trans = [(cmap[(rep, r[0])],) + tuple(r[1:])
             for rep in range(reps) for r in fx.transcripts]
    random.Random(f"{salt}|{seed}").shuffle(trans)
    lp = [(_remap_mention(r[0], rep, cmap), _remap_mention(r[1], rep, cmap))
          + tuple(r[2:]) for rep in range(reps) for r in fx.labeled_pairs]
    rows = {"transcripts": trans, "anchors": fx.anchors,
            "page_links": fx.page_links, "labeled_pairs": lp}
    out = {}
    for name in TABLES:
        schema = arrow_schema(Fixture.SCHEMAS[name])
        cols = list(zip(*rows[name]))
        out[name] = pa.table([pa.array(list(c), type=f.type)
                              for c, f in zip(cols, schema)], schema=schema)
    return out


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in sorted(os.listdir(path)) if f.endswith(".parquet"))


def write_fixture(out: str, scale: str, reps: int, seed: int,
                  salt: str = "timed") -> dict:
    tabs = fixture_tables(scale, reps, seed, salt)
    counts = {}
    for name, t in tabs.items():
        _write(t, os.path.join(out, name),
               TRANSCRIPT_FILES if name == "transcripts" else 1)
        counts[name] = t.num_rows
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)
    return counts


def _valid(d: str) -> dict | None:
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            counts = json.load(f)
        if all(parquet_rows(os.path.join(d, n)) == c for n, c in counts.items()):
            return counts
    except (OSError, ValueError):
        pass
    return None


def ensure_fixture(cache: str, repo: str, scale: str, reps: int, seed: int,
                   salt: str = "timed") -> tuple[str, dict, bool]:
    """(dir, row counts, cache hit) for the keyed fixture input."""
    key = (f"{scale}_r{reps}_{salt}_s{seed}_"
           f"{source_hash(os.path.join(repo, 'semlink', 'fixtures.py'))}")
    d = os.path.join(cache, key)
    counts = _valid(d)
    if counts is not None:
        return d, counts, True
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    counts = write_fixture(tmp, scale, reps, seed, salt)
    os.replace(tmp, d)
    return d, counts, False


def shuffled_copy(src: str, dst: str, seed: int) -> bool:
    """Every ``<name>.parquet`` under ``src`` with its rows in a seeded
    order — the same tables as different files, for warm-up passes.
    True when a valid copy was already there."""
    if _valid(dst) is not None:
        return True
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    counts = {}
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        idx = list(range(t.num_rows))
        random.Random(f"{seed}|{f}").shuffle(idx)
        os.makedirs(os.path.join(dst, f))
        pq.write_table(t.take(pa.array(idx, type=pa.int64())),
                       os.path.join(dst, f, "part-00000.parquet"))
        counts[f] = t.num_rows
    with open(os.path.join(dst, "manifest.json"), "w") as fh:
        json.dump(counts, fh, sort_keys=True)
    return False
