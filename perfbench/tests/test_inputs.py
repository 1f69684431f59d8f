import os

import pyarrow.parquet as pq

from perfbench import inputs

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _files(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, d)] = open(p, "rb").read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_fixture(a, "tiny", 2, seed=5)
    inputs.write_fixture(b, "tiny", 2, seed=5)
    inputs.write_fixture(c, "tiny", 2, seed=6)
    fa, fc = _files(a), _files(c)
    assert fa == _files(b)
    assert fa.keys() == fc.keys()
    assert fa["transcripts/part-00000.parquet"] != fc["transcripts/part-00000.parquet"]
    # the dictionary tables do not depend on the seed
    assert fa["anchors/part-00000.parquet"] == fc["anchors/part-00000.parquet"]


def test_replicas_remap_conversations_consistently(tmp_path):
    from semlink.fixtures import generate
    fx = generate("tiny")
    t = inputs.fixture_tables("tiny", 3, seed=1)
    tr = t["transcripts"].to_pydict()
    assert t["transcripts"].num_rows == 3 * len(fx.transcripts)
    assert t["labeled_pairs"].num_rows == 3 * len(fx.labeled_pairs)
    convs = set(tr["conv_id"])
    assert len(convs) == 3 * len({r[0] for r in fx.transcripts})
    lp = t["labeled_pairs"].to_pydict()
    for col in ("left_mention_id", "right_mention_id"):
        assert {m.split(":", 1)[0] for m in lp[col]} <= convs
    # rows are shuffled, not grouped by replica
    assert tr["conv_id"][: len(fx.transcripts)] != sorted(tr["conv_id"][: len(fx.transcripts)])


def test_cache_key_and_row_count_validation(tmp_path):
    cache = str(tmp_path)
    d, counts, hit = inputs.ensure_fixture(cache, REPO, "tiny", 1, seed=3)
    assert not hit and counts["transcripts"] == inputs.parquet_rows(os.path.join(d, "transcripts"))
    assert inputs.ensure_fixture(cache, REPO, "tiny", 1, seed=3)[2]
    assert inputs.ensure_fixture(cache, REPO, "tiny", 1, seed=4)[0] != d
    # a truncated table is detected by its row count and rebuilt
    part = os.path.join(d, "transcripts", "part-00000.parquet")
    pq.write_table(pq.read_table(part).slice(0, 1), part)
    d2, _, hit = inputs.ensure_fixture(cache, REPO, "tiny", 1, seed=3)
    assert d2 == d and not hit
    assert inputs.parquet_rows(os.path.join(d, "transcripts")) == counts["transcripts"]


def test_shuffled_copy_keeps_rows(tmp_path):
    src = tmp_path / "src"
    inputs.write_fixture(str(tmp_path / "fx"), "tiny", 1, seed=1)
    src.mkdir()
    t = pq.read_table(str(tmp_path / "fx" / "anchors"))
    pq.write_table(t, str(src / "anchors.parquet"))
    dst = str(tmp_path / "dst")
    assert inputs.shuffled_copy(str(src), dst, seed=2) is False
    assert inputs.shuffled_copy(str(src), dst, seed=2) is True
    u = pq.read_table(os.path.join(dst, "anchors.parquet"))
    assert u.num_rows == t.num_rows
    assert sorted(u.column(0).to_pylist()) == sorted(t.column(0).to_pylist())
