"""tools/scale_gen.py: embedding clones get a per-(shard, dim) offset,
so a cross-shard clone is not a cosine near-duplicate of its source,
and the generator is deterministic."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import scale_gen  # noqa: E402

from tests.test_plans import SF as SRC  # noqa: E402


@pytest.mark.skipif(not os.path.isdir(SRC), reason="testdata absent")
def test_embedding_offsets_vary_by_shard_and_dim_and_rerun_is_identical(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    scale_gen.build(SRC, str(a), 3)
    scale_gen.build(SRC, str(b), 3)

    con = duckdb.connect()
    src = dict(con.sql(f"SELECT vec_id, embedding FROM '{SRC}/embeddings.parquet'").fetchall())
    stride = max(src) + 1
    out = dict(con.sql(f"SELECT vec_id, embedding FROM '{a}/embeddings.parquet'").fetchall())
    vid = min(src)

    def offsets(shard: int) -> list[float]:
        clone = out[vid + shard * stride]
        return [c - s for c, s in zip(clone, src[vid])]

    off1, off2 = offsets(1), offsets(2)
    assert len(off1) == len(src[vid]) > 1
    # per-dim, not one scalar per shard: the clone's direction moves
    assert max(off1) - min(off1) > 0.01
    # and shards get different offset vectors
    assert max(abs(x - y) for x, y in zip(off1, off2)) > 0.01
    # shard 0 is the unmodified source
    assert out[vid] == src[vid]

    for name in sorted(os.listdir(a)):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
