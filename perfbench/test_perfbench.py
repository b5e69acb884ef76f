"""Tests for the benchmark itself: seeded generation and failure counting.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import workloads  # noqa: E402


def _bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*.parquet"))}


def _stream(root: Path, seed: int, extracts: int) -> gen.SyncStream:
    s = gen.SyncStream(root, seed, warm_hits=100)
    for _ in range(extracts):
        s.write_next()
    return s


def _generate(root: Path, seed: int) -> gen.SyncStream:
    gen.write_hit_log(root / "hits", seed, 3_000, 200)
    gen.write_corpus(root / "corpus", seed, 120)
    return _stream(root / "ticks", seed, gen.WARM_TICKS + 3)


def test_same_seed_gives_identical_files(tmp_path):
    a = _generate(tmp_path / "a", 7)
    b = _generate(tmp_path / "b", 7)
    files_a, files_b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert len(files_a) == 1 + 2 + gen.WARM_TICKS + 3
    assert files_a == files_b
    assert a.expected == b.expected and a.rows == b.rows


def test_other_seed_gives_other_files(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 8)
    files_a, files_b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert all(files_a[k] != files_b[k] for k in files_a)


def test_sync_stream_plants_overlap_and_late_hits(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = _stream(tmp_path, 3, gen.WARM_TICKS + 2)
    for tick in range(1, len(s.dirs)):
        t = pq.read_table(s.dirs[tick] / "events.parquet")
        assert t.schema.field("ts").type == pa.timestamp("ns")  # as the fixtures are
        ts_us = [ns // 1000 for ns in t.column("ts").cast(pa.int64()).to_pylist()]
        keys = [gen.hit_key(u, ts) for u, ts in zip(t.column("user_id").to_pylist(), ts_us)]
        assert len(keys) == len(set(keys)) == s.rows[tick]
        fresh = s.expected[tick]
        earlier = frozenset().union(*s.expected[:tick])
        assert fresh <= set(keys)
        assert not fresh & earlier
        # the extract repeats loaded rows and carries hits too late to load
        assert set(keys) & earlier
        assert len(set(keys) - fresh - earlier) > 0


def test_corrupted_result_counts_as_failure():
    want = {"q": (10, 1234), "r": (3, 5), "s": (4, 6)}

    def outcome():
        out = workloads.Outcome()
        out.ops = [workloads.Op("q", 0.1, 100, 10), workloads.Op("q", 0.1, 100, 9),
                   workloads.Op("r", 0.1, 100, 3), workloads.Op("s", 0.1, 100, 4),
                   workloads.Op("s", 0.1, 100, 4)]
        out.attempted = len(out.ops)
        return out

    # one sample with a wrong row count
    out = outcome()
    workloads.tally_query_checks(out, want, dict(want))
    assert out.failed == 1
    assert [op.ok for op in out.ops] == [True, False, True, True, True]
    assert out.problems and out.problems[0].startswith("q:")
    # a wrong digest, or an error, in a key's check run fails all its samples
    out = outcome()
    workloads.tally_query_checks(out, want, {**want, "r": (3, 999), "s": "raised ValueError"})
    assert out.failed == 1 + 1 + 2
    assert [op.ok for op in out.ops] == [True, False, False, False, False]


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark.sql")
    s = (pyspark.SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_digest_ignores_order_and_sees_one_changed_cell(spark):
    rows = [(1, "a", 1.5), (2, "b", -0.0), (3, "c", None)]
    df = spark.createDataFrame(rows, "id bigint, s string, v double")
    shuffled = spark.createDataFrame(list(reversed(rows)), "id bigint, s string, v double")
    reordered_cols = shuffled.select("v", "id", "s")
    as_int_zero = spark.createDataFrame([(1, "a", 1.5), (2, "b", 0.0), (3, "c", None)],
                                        "id int, s string, v double")
    corrupted = spark.createDataFrame([(1, "a", 1.5), (2, "b", 0.0), (3, "c", 0.0)],
                                      "id bigint, s string, v double")
    d = workloads.digest(df)
    assert d[0] == 3
    assert workloads.digest(reordered_cols) == d
    assert workloads.digest(as_int_zero) == d
    assert workloads.digest(corrupted) != d
