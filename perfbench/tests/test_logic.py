"""Tests for the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.eventlog import Attribution, covered, load_events, self_time
from perfbench.harness import Clock, tail, timings, tree_cpu_s

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog")
WRITE = "w0|raster.cog.write_cog"


def test_tail_needs_more_samples_than_beyond():
    assert tail([1.0] * 10) is None
    value, pct, n = tail([float(i) for i in range(11)])
    assert (value, pct, n) == (0.0, 0.0, 11)


def test_tail_is_highest_percentile_with_ten_samples_above():
    xs = [float(i) for i in range(101)]  # 0..100, shuffled order must not matter
    value, pct, n = tail(list(reversed(xs)))
    assert (value, pct, n) == (90.0, 90.0, 101)
    assert sum(x > value for x in xs) == 10


def test_tree_cpu_counts_exited_children():
    import subprocess
    import sys

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    with Clock() as c:
        subprocess.run([sys.executable, "-c", spin], check=True)
    assert c.cpu_s >= 0.25  # the child is gone; its CPU stays in our cutime
    assert c.wall_s >= 0.25
    assert tree_cpu_s(root=2**22 + 1) == 0  # no such process


def test_timings_are_medians_of_cpu_and_wall():
    def clock(cpu, wall):
        c = Clock()
        c.cpu_s, c.wall_s = cpu, wall
        return c

    out = timings([clock(9.0, 3.0)], [clock(1.0, 5.0), clock(3.0, 1.0)],
                  [clock(2.0, 1.0), clock(7.0, 2.0), clock(4.0, 9.0)])
    assert out == {"pass_cpu_s": 9.0, "wall.pass_s": 3.0,
                   "write_cpu_p50_s": 2.0, "wall.write_p50_s": 3.0,
                   "read_cpu_p50_s": 4.0, "wall.read_p50_s": 2.0}


def test_covered_merges_overlaps_and_clips_to_span():
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12), (-4, -1)]) == 6
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(-1, 11)]) == 10


def test_self_time_is_span_minus_covered_job_time():
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time((5, 6), [(0, 1)]) == 1


def test_event_log_fragment_attribution():
    events = load_events(DATA)
    assert len(events) == 25  # both rolling files, in index order
    assert events[0]["Event"] == "SparkListenerLogStart"
    attr = Attribution(events)
    assert attr.groups() == {WRITE, "op1|llm.dedup_cc.build", ""}

    enc = attr.total(group=WRITE, site="raster/cog.py")
    assert enc["jobs"] == 1 and enc["tasks"] == 3
    assert enc["executor_cpu_s"] == pytest.approx(3.5)
    assert enc["shuffle_bytes"] == 800 and enc["spill_bytes"] == 64
    assert enc["python_worker_s"] == pytest.approx(0.7)
    assert enc["gc_s"] == pytest.approx(0.03)
    assert enc["task_retries"] == 1
    assert enc["intervals"] == [(1.0, 4.0)]

    up = attr.total(group=WRITE, site="sinks/mpu.py")
    assert (up["jobs"], up["tasks"], up["intervals"]) == (1, 1, [(4.5, 5.0)])
    whole = attr.total(group=WRITE)
    assert whole["jobs"] == 2
    assert self_time((0.5, 5.5), whole["intervals"]) == pytest.approx(1.5)

    op = attr.total(group="op1|llm.dedup_cc.build")
    assert op["task_retries"] == 1 and op["python_worker_s"] == pytest.approx(0.12)
    assert attr.total()["jobs"] == 4
    # rdd_5_0 (1000) + rdd_5_1 (3000) held together; broadcasts ignored
    assert attr.cached_bytes_peak == 4000


def test_op_order_never_repeats_a_unit_back_to_back():
    units = ["a", "b", "c"]
    passes = gen.op_order(7, units, passes=200)
    flat = [u for p in passes for u in p]
    assert all(sorted(p) == units for p in passes)
    assert all(x != y for x, y in zip(flat, flat[1:]))
    assert passes == gen.op_order(7, units, passes=200)
    assert passes[0] == units and passes[0] == gen.op_order(8, units, 1)[0]


def test_raster_inputs_are_seeded():
    a1, m1 = gen.raster(3, 128, 64)
    a2, m2 = gen.raster(3, 128, 64)
    a3, _ = gen.raster(4, 128, 64)
    assert np.array_equal(a1, a2) and np.array_equal(m1, m2)
    assert not np.array_equal(a1, a3)
    assert a1.dtype == np.uint8 and (a1[:, m1 != 0] > 0).all()
    # at least one whole tile is invalid, so the writer elides it
    tiles = m1.reshape(2, 64, 2, 64).max(axis=(1, 3))
    assert (tiles == 0).any()


def test_windows_fit_their_level():
    dims = [512, 256, 128]
    reqs = gen.windows(5, 300, dims)
    assert [r[0] for r in reqs[:6]] == [0, 1, 2, 0, 1, 2]
    for level, (x0, y0, x1, y1), bands in reqs:
        ext = dims[level]
        assert 0 <= x0 < x1 <= ext and 0 <= y0 < y1 <= ext
        assert x1 - x0 >= ext // 2 and y1 - y0 >= ext // 2
        assert bands is None or (0 < len(bands) < 3 and bands == sorted(set(bands)))


def test_corpus_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    gen.corpus(9, str(tmp_path / "a"), n_docs=100, n_vecs=20)
    gen.corpus(9, str(tmp_path / "b"), n_docs=100, n_vecs=20)
    for t in ("documents", "embeddings", "lineitem"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert sorted(docs.doc_id) == list(range(100))
    assert docs.text.str.endswith(" dup").sum() == 5
    assert (docs.n_chars == docs.text.str.len()).all()
