"""Persisted BM25 inverted index (round 13, operators/text_index.py):
build/query lifecycle, bit-identity with the from-scratch operator,
bucket partition pruning, and losslessness of max-score pruning when
answered from the index."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ccog_spark.operators.text import bm25_topk
from ccog_spark.operators.text_index import (
    build_bm25_index,
    query_bm25_index,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _queries(spark, docs):
    return docs.where(F.col("doc_id") % 97 == 11).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 3), " "
        ).alias("q_text"),
    )


def test_index_query_bit_identical_to_inline(spark, tmp_path):
    """query_bm25_index == bm25_topk row-for-row on the same corpus —
    the module's contract (shared scoring core + meta stats rebuilt
    with the same BIGINT values)."""
    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "bm25_idx")
    meta = build_bm25_index(docs, idx)
    assert meta["n_docs"] == docs.count()
    assert meta["n_terms"] > 0 and meta["sum_dl"] > 0

    a = sorted(map(tuple, bm25_topk(docs, qs, k=5).collect()))
    b = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=5).collect()))
    assert a == b and len(a) > 0


def test_index_postings_scan_is_bucket_pruned(spark, tmp_path):
    """The postings scan reads ONLY the query terms' buckets. Round 16
    strengthens the mechanism: with the bucket manifest the matched
    buckets' files are opened BY NAME (inputFiles ⊊ written files, ≤
    |distinct terms| bkt dirs touched, no partition discovery); with
    the manifest removed (pre-r16 index) the old bkt PartitionFilters
    plan is the fallback. The In(t) data filter pushes into the scan
    either way (row-group stats pruning — postings are (t, id)-
    sorted)."""
    from ccog_spark.operators.text_index import _BKT_MANIFEST

    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(1, "dup the"), (2, "dup stream")], "q_id long, q_text string"
    )
    idx = str(tmp_path / "bm25_idx_prune")
    build_bm25_index(docs, idx, n_buckets=32)

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    df = query_bm25_index(spark, idx, qs, k=3)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "In(t," in plan.replace(" ", "")
    all_files = {
        p
        for p in glob.glob(os.path.join(idx, "postings", "bkt=*", "*"))
        if p.endswith(".parquet")
    }
    touched = {
        f.split("://")[-1]
        for f in df.inputFiles()
        if "/postings/" in f
    }
    assert touched and touched < all_files
    dirs = {os.path.basename(os.path.dirname(f)) for f in touched}
    assert len(dirs) <= 3  # 3 distinct query terms
    rows = df.collect()
    assert len(rows) > 0

    # fallback (manifest removed): the pre-r16 partition-filter plan
    os.remove(os.path.join(idx, _BKT_MANIFEST))
    df2 = query_bm25_index(spark, idx, qs, k=3)
    plan2 = plan_of(df2)
    assert "PartitionFilters" in plan2 and "bkt" in plan2
    assert sorted(map(tuple, df2.collect())) == sorted(map(tuple, rows))


@pytest.mark.slow
def test_index_pruned_query_lossless(spark, tmp_path):
    """Max-score pruning answered FROM THE INDEX (df lookups are
    bucket-pruned terms reads — no corpus pass) must match the
    unpruned index query exactly on the engaged rare+stopword batch."""
    docs = _docs(spark)
    qs = spark.createDataFrame(
        [
            (1, "dup the stream"),
            (2, "dup value data"),
            (3, "dup big small"),
        ],
        "q_id long, q_text string",
    )
    idx = str(tmp_path / "bm25_idx_loss")
    build_bm25_index(docs, idx)
    a = sorted(map(tuple, query_bm25_index(
        spark, idx, qs, k=5, prune=False).collect()))
    b = sorted(map(tuple, query_bm25_index(
        spark, idx, qs, k=5, prune=True, min_postings=0).collect()))
    assert a == b and len(a) > 0


def test_index_empty_and_unknown_query_terms(spark, tmp_path):
    """An all-unknown-term batch returns 0 rows (inner df join drops
    unknown terms — same semantics as bm25_topk); an empty batch is a
    well-formed empty plan, not an isin() error."""
    docs = _docs(spark)
    idx = str(tmp_path / "bm25_idx_edge")
    build_bm25_index(docs, idx)
    unknown = spark.createDataFrame(
        [(1, "zzz qqq")], "q_id long, q_text string"
    )
    assert query_bm25_index(spark, idx, unknown, k=3).count() == 0
    empty = spark.createDataFrame([], "q_id long, q_text string")
    assert query_bm25_index(spark, idx, empty, k=3).count() == 0


def test_engine_facade_text_index(spark, tmp_path):
    """Facade verbs: build_text_index/query_text_index round-trip and
    agree with the facade's inline bm25 verb."""
    from ccog_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=SF_SMOKE)
    docs = eng.table("documents")
    qs = _queries(spark, docs)
    idx = str(tmp_path / "eng_text_idx")
    meta = eng.build_text_index(docs, idx)
    assert meta["n_docs"] == docs.count()
    a = sorted(map(tuple, eng.bm25(docs, qs, k=4).collect()))
    b = sorted(map(tuple, eng.query_text_index(idx, qs, k=4).collect()))
    assert a == b


@pytest.mark.slow
def test_append_equals_union_build(spark, tmp_path):
    """build(base) + append(delta) answers queries IDENTICALLY to an
    index built from the union corpus (and to the inline operator on
    the union) — the growth-path contract (ann append precedent)."""
    from ccog_spark.operators.text_index import append_to_text_index

    docs = _docs(spark)
    base = docs.where(F.col("doc_id") % 7 != 0)
    delta = docs.where(F.col("doc_id") % 7 == 0)
    qs = _queries(spark, docs)

    grown = str(tmp_path / "grown_idx")
    meta0 = build_bm25_index(base, grown)
    meta1 = append_to_text_index(delta, grown)
    assert meta1["appended"] == delta.count()
    assert meta1["n_docs"] == docs.count()
    assert meta1["sum_dl"] > meta0["sum_dl"]

    full = str(tmp_path / "full_idx")
    build_bm25_index(docs, full)

    a = sorted(map(tuple, query_bm25_index(spark, grown, qs, k=5).collect()))
    b = sorted(map(tuple, query_bm25_index(spark, full, qs, k=5).collect()))
    c = sorted(map(tuple, bm25_topk(docs, qs, k=5).collect()))
    assert a == b == c and len(a) > 0


def test_append_merges_term_df(spark, tmp_path):
    """The vocabulary merge sums per-term df across base and delta —
    spot-checked against the union corpus's true df."""
    from ccog_spark.operators.text_index import append_to_text_index

    docs = _docs(spark)
    base = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 != 0)
    idx = str(tmp_path / "dfmerge_idx")
    build_bm25_index(base, idx)
    append_to_text_index(delta, idx)
    got = {
        r.t: r.df
        for r in spark.read.parquet(idx + "/terms").select("t", "df").collect()
    }
    want = {
        r.t: r.df
        for r in docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count_distinct("doc_id").alias("df"))
        .collect()
    }
    assert got == want


def test_adaptive_n_buckets_schedule():
    """Floor 64 (fixture layout preserved), ~1 bucket per 50k docs,
    power-of-two, capped at 4096."""
    from ccog_spark.operators.text_index import adaptive_n_buckets

    assert adaptive_n_buckets(0) == 64
    assert adaptive_n_buckets(5_000) == 64
    assert adaptive_n_buckets(500_000) == 64
    assert adaptive_n_buckets(5_000_000) == 128
    assert adaptive_n_buckets(50_000_000) == 1024
    assert adaptive_n_buckets(10**9) == 4096
    for n in (1, 10**6, 10**8, 10**10):
        v = adaptive_n_buckets(n)
        assert v & (v - 1) == 0 and 64 <= v <= 4096


@pytest.mark.slow
def test_compact_after_appends_preserves_answers(spark, tmp_path):
    """Three appends → many small postings files; compaction shrinks
    the file count and leaves query answers IDENTICAL (layout-only
    rewrite). The plan's In(t)/bkt pushdown still holds after."""
    from ccog_spark.operators.text_index import (
        append_to_text_index,
        compact_text_index,
    )

    docs = _docs(spark)
    parts = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    qs = _queries(spark, docs)
    idx = str(tmp_path / "compact_idx")
    build_bm25_index(parts[0], idx, n_buckets=16)
    for p in parts[1:]:
        append_to_text_index(p, idx)

    before = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=5).collect()))
    stats = compact_text_index(spark, idx)
    assert stats["files_after"] < stats["files_before"]
    after = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=5).collect()))
    assert before == after and len(after) > 0
    # and still equals the inline truth over the union corpus
    truth = sorted(map(tuple, bm25_topk(docs, qs, k=5).collect()))
    assert after == truth


def test_index_pregate_uses_pair_count(spark, tmp_path, monkeypatch):
    """The metadata pre-gate's ceiling is |distinct (q_id, t) PAIRS| ·
    n_docs — the planner sums df once per pair, so a shared term
    counts once per query. Pinned with a floor BETWEEN the (wrong)
    distinct-term ceiling and the (right) pair ceiling: the planner
    must still be consulted."""
    from ccog_spark.operators import text as T
    from ccog_spark.operators.text_index import query_bm25_index as QI

    docs = _docs(spark)
    n_docs = docs.count()
    idx = str(tmp_path / "pregate_idx")
    build_bm25_index(docs, idx)
    # 3 queries sharing 'dup': 4 distinct terms, 6 (q, t) pairs
    qs = spark.createDataFrame(
        [(1, "dup the"), (2, "dup stream"), (3, "dup value")],
        "q_id long, q_text string",
    )
    floor = 5 * n_docs  # terms-ceiling 4·n < floor < 6·n pairs-ceiling
    calls = []
    orig = T._bm25_essential_terms

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(T, "_bm25_essential_terms", spy)
    rows = QI(spark, idx, qs, k=3, min_postings=floor).collect()
    assert len(rows) > 0
    assert calls, "pre-gate declined on the distinct-term ceiling"


def test_phrase_inline_matches_oracle_shape(spark):
    """text.phrase_match: every phrase finds at least its source
    document with >= 1 occurrence; a nonsense phrase finds nothing;
    a single-token phrase counts plain term occurrences."""
    from ccog_spark.operators.text import phrase_match

    docs = _docs(spark)
    phrases = docs.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    out = phrase_match(docs, phrases).collect()
    got = {(r.q_id, r.doc_id): r.n_matches for r in out}
    for q in phrases.collect():
        assert got.get((q.q_id, q.q_id), 0) >= 1  # source doc matches
    assert all(n >= 1 for n in got.values())

    none = spark.createDataFrame(
        [(1, "zzz qqq xxx")], "q_id long, phrase string"
    )
    assert phrase_match(docs, none).count() == 0

    single = spark.createDataFrame(
        [(1, "dup")], "q_id long, phrase string"
    )
    one = {r.doc_id: r.n_matches for r in phrase_match(docs, single).collect()}
    tf = {
        r.doc_id: r.c
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(F.split("text", " "), lambda t: t == F.lit("dup"))
            ).alias("c"),
        ).collect()
        if r.c > 0
    }
    assert one == tf  # 1-token phrase == term frequency


@pytest.mark.slow
def test_phrase_index_bit_identical_and_lifecycle(spark, tmp_path):
    """phrase_match_index == phrase_match row-for-row (shared
    adjacency core); positions survive append, delete hides a doc's
    matches, compact preserves the positional layout; a
    positions-less index refuses phrase queries."""
    from ccog_spark.operators.text import phrase_match
    from ccog_spark.operators.text_index import (
        append_to_text_index,
        compact_text_index,
        delete_from_text_index,
        phrase_match_index,
    )

    docs = _docs(spark)
    phrases = docs.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    base = docs.where(F.col("doc_id") % 7 != 0)
    delta = docs.where(F.col("doc_id") % 7 == 0)

    idx = str(tmp_path / "pos_idx")
    build_bm25_index(base, idx, n_buckets=64, positions=True)
    append_to_text_index(delta, idx)  # must carry positions through

    want = sorted(map(tuple, phrase_match(docs, phrases).collect()))
    got = sorted(map(tuple, phrase_match_index(spark, idx, phrases).collect()))
    assert got == want and len(got) > 0

    # delete a slice: its docs disappear from phrase results
    dels = docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    delete_from_text_index(spark, idx, dels)
    surv = sorted(
        map(tuple, phrase_match_index(spark, idx, phrases).collect())
    )
    del_set = {r.doc_id for r in dels.collect()}
    assert surv == [t for t in want if t[1] not in del_set]

    # compact keeps the positional layout AND the deletion
    compact_text_index(spark, idx)
    assert (
        sorted(map(tuple, phrase_match_index(spark, idx, phrases).collect()))
        == surv
    )
    # BM25 from the positional index still works (pos column pruned)
    qs = _queries(spark, docs)
    assert query_bm25_index(spark, idx, qs, k=5).count() > 0

    # a scoring-only index refuses phrase queries loudly
    flat = str(tmp_path / "flat_idx")
    build_bm25_index(base, flat, n_buckets=64)
    with pytest.raises(ValueError, match="positions=True"):
        phrase_match_index(spark, flat, phrases)


def test_proximity_persist_cost_gate(spark, tmp_path):
    """Round 18 (VERDICT r17 #2): _proximity_core's matching-token
    persist is gated on the optimizer's size estimate for the token
    subtree. Pinned: (a) a small FILE-backed corpus (honest parquet
    stats, far below the 256 MiB floor) tracks NO proximity_core
    cache — two parallel scans beat a serialized cache build at that
    size; (b) an RDD-backed corpus (createDataFrame — stats default
    to Long.MaxValue, size unknown) conservatively PERSISTS: an
    un-provably-small input is treated as a corpus whose second
    tokenize pass must be avoided; (c) results are IDENTICAL either
    way — the persist is a recompute hint, never semantics."""
    from ccog_spark import cache_ledger
    from ccog_spark.operators.text import proximity_match

    rows = [(1, "a b c d e"), (2, "c x x a b"), (3, "e d c b a")]
    local_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pq = str(tmp_path / "gate_docs.parquet")
    local_docs.write.parquet(pq)
    file_docs = spark.read.parquet(pq)
    ph = spark.createDataFrame([(1, "a b"), (2, "c e")], ["q_id", "phrase"])

    def tracked_owners():
        st = cache_ledger.session_state(spark)
        return {own for own, _ in st["persists"]}

    cache_ledger.release_owner(spark, "proximity_core")
    # (a) file-backed small input: honest stats, gate OFF
    got_off = sorted(
        map(tuple, proximity_match(file_docs, ph, max_span=3).collect())
    )
    assert "proximity_core" not in tracked_owners()

    # (b) unknown-size (RDD-backed) input: conservative persist ON
    got_on = sorted(
        map(tuple, proximity_match(local_docs, ph, max_span=3).collect())
    )
    assert "proximity_core" in tracked_owners()

    # (c) bit-identical results either way
    assert got_off == got_on
    cache_ledger.release_owner(spark, "proximity_core")


def test_submit_inheriting_carries_job_group(spark):
    """Round 18 (ADVICE r17 #1): jobs submitted through
    driver_threads.submit_inheriting carry the CALLER's job group into
    the pool worker thread (raw pool threads do not inherit JVM
    thread-locals under pinned-thread mode), so worker-thread jobs
    stay visible to setJobGroup-based accounting and cancellation.
    Each submission runs under its own probe group: a helper that does
    not propagate leaves the inherited group empty, and one that does
    not restore the worker's properties afterwards leaks its group into
    the raw submission that reuses the same pool thread."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from ccog_spark.driver_threads import submit_inheriting

    sc = spark.sparkContext
    ns = time.monotonic_ns()
    ref, inh, raw = (f"dt_{k}_{ns}" for k in ("ref", "inh", "raw"))

    def count():
        return spark.range(100).count()

    def jobs(grp):
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    try:
        sc.setJobGroup(ref, "driver_threads probe")
        assert count() == 100  # jobs one count() issues, in the caller
        with ThreadPoolExecutor(max_workers=1) as pool:
            sc.setJobGroup(inh, "driver_threads probe")
            assert submit_inheriting(pool, spark, count).result() == 100
            sc.setJobGroup(raw, "driver_threads probe")
            assert pool.submit(count).result() == 100  # same pool thread
        assert jobs(ref) >= 1
        assert jobs(inh) == jobs(ref), "inherited jobs missing or leaked into"
        assert jobs(raw) == 0, "raw pool thread carried a job group"
    finally:
        for p in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(p, None)


@pytest.mark.slow
def test_proximity_semantics_hand_cases(spark):
    """text.proximity_match (round 14): the unordered-window contract
    on hand-built documents — permutations match within span, gaps
    beyond the window don't, window starts are counted, single-token
    queries count term frequency."""
    from ccog_spark.operators.text import phrase_match, proximity_match

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "x q q q y"),
            (3, "a b a b"),
            (4, "nothing here"),
        ],
        "doc_id long, text string",
    )

    # permutation: "c a" never matches exactly, but span-3 covers it
    ph = spark.createDataFrame([(1, "c a")], "q_id long, phrase string")
    assert phrase_match(docs, ph).count() == 0
    got = {
        (r.doc_id): r.n_matches
        for r in proximity_match(docs, ph, max_span=3).collect()
    }
    # one qualifying start: pos 1's window [1,3] = {a,b,c} covers both
    # terms; pos 3's window [3,5] holds only 'c'
    assert got == {1: 1}

    # gap: "x y" needs span >= 5 (positions 1 and 5)
    ph = spark.createDataFrame([(1, "x y")], "q_id long, phrase string")
    assert proximity_match(docs, ph, max_span=4).count() == 0
    got = proximity_match(docs, ph, max_span=5).collect()
    assert [(r.doc_id, r.n_matches) for r in got] == [(2, 1)]

    # window-start counting: "a b" span 2 in "a b a b"
    ph = spark.createDataFrame([(1, "a b")], "q_id long, phrase string")
    got = {
        r.doc_id: r.n_matches
        for r in proximity_match(docs, ph, max_span=2).collect()
    }
    assert got[3] == 3  # starts at pos 1, 2, 3 (pos-4 window is just 'b')
    assert got[1] == 1

    # single token == term frequency (any span)
    ph = spark.createDataFrame([(1, "a")], "q_id long, phrase string")
    got = {
        r.doc_id: r.n_matches
        for r in proximity_match(docs, ph, max_span=1).collect()
    }
    assert got == {1: 1, 3: 2}

    # exact-phrase matches are a subset of span=len proximity matches
    docs_sf = _docs(spark)
    phrases = docs_sf.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    exact = {
        (r.q_id, r.doc_id) for r in phrase_match(docs_sf, phrases).collect()
    }
    prox = {
        (r.q_id, r.doc_id)
        for r in proximity_match(docs_sf, phrases, max_span=3).collect()
    }
    assert exact <= prox and exact


@pytest.mark.slow
def test_proximity_index_bit_identical_and_gate(spark, tmp_path):
    """proximity_match_index == proximity_match row-for-row (shared
    window core over the positional postings); a positions-less index
    refuses proximity queries; max_span < 1 is rejected."""
    import pytest as _pytest

    from ccog_spark.operators.text import proximity_match
    from ccog_spark.operators.text_index import (
        build_bm25_index,
        proximity_match_index,
    )

    docs = _docs(spark)
    phrases = docs.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    idx = str(tmp_path / "posidx")
    build_bm25_index(docs, idx, positions=True)
    got = sorted(
        map(tuple, proximity_match_index(spark, idx, phrases, 5).collect())
    )
    want = sorted(
        map(tuple, proximity_match(docs, phrases, max_span=5).collect())
    )
    assert got == want and len(got) > 0

    bare = str(tmp_path / "bareidx")
    build_bm25_index(docs, bare)
    with _pytest.raises(ValueError, match="positions"):
        proximity_match_index(spark, bare, phrases, 5).collect()
    with _pytest.raises(ValueError, match="max_span"):
        proximity_match(docs, phrases, max_span=0)


@pytest.mark.slow
def test_filtered_retrieval_lucene_semantics(spark, tmp_path):
    """query_bm25_index(doc_filter=…) (round 14): candidates restrict
    to the docmeta predicate while df/n_docs/avgdl stay index-wide —
    the filtered top-k must equal the UNFILTERED all-scores list
    restricted to allowed docs and re-cut at k (Lucene filter
    semantics, bit-exact); pruning under the filter is lossless; a
    filter on an index without meta_cols refuses."""
    import pytest as _pytest

    from ccog_spark.operators.text_index import (
        build_bm25_index,
        query_bm25_index,
    )
    from ccog_spark.queries.pipeline import BM25_FILTER_PRED

    docs = _docs(spark)
    idx = str(tmp_path / "filidx")
    build_bm25_index(docs, idx, meta_cols=("lang", "source"))
    qs = docs.where(F.col("doc_id") % 97 == 11).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 3), " "
        ).alias("q_text"),
    )

    got = query_bm25_index(
        spark, idx, qs, k=5, doc_filter=BM25_FILTER_PRED
    ).collect()
    assert got

    # ground truth: unfiltered ALL-scores (k = corpus size), restrict
    # to allowed ids in the test, re-rank per query, cut at 5
    n = docs.count()
    full = query_bm25_index(spark, idx, qs, k=n).collect()
    allowed = {
        r.doc_id
        for r in docs.where(F.expr(BM25_FILTER_PRED)).select("doc_id").collect()
    }
    per_q: dict = {}
    for r in full:
        if r.doc_id in allowed:
            per_q.setdefault(r.q_id, []).append((r.doc_id, r.score))
    want = set()
    for q_id, rows in per_q.items():
        rows.sort(key=lambda x: (-x[1], x[0]))
        for rn, (d, s) in enumerate(rows[:5], start=1):
            want.add((q_id, d, s, rn))
    assert {tuple(r) for r in got} == want

    # every returned doc satisfies the predicate
    assert {r.doc_id for r in got} <= allowed

    # max-score pruning stays lossless under the filter (θ probe sees
    # only eligible docs because the semi-join lands before scoring)
    pruned = query_bm25_index(
        spark, idx, qs, k=5, doc_filter=BM25_FILTER_PRED, min_postings=0
    ).collect()
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, got))

    bare = str(tmp_path / "bareidx")
    build_bm25_index(docs, bare)
    with _pytest.raises(ValueError, match="meta_cols"):
        query_bm25_index(
            spark, bare, qs, k=5, doc_filter=BM25_FILTER_PRED
        ).collect()


@pytest.mark.slow
def test_filtered_retrieval_lifecycle(spark, tmp_path):
    """docmeta rides through the index lifecycle: append carries the
    delta's metadata (filtered query on grown index == on a
    from-scratch build), compact applies tombstones to docmeta, and
    the positional verbs honor doc_filter (matches = unfiltered
    matches restricted to allowed docs)."""
    from ccog_spark.operators.text_index import (
        build_bm25_index,
        compact_text_index,
        delete_from_text_index,
        phrase_match_index,
        query_bm25_index,
    )
    from ccog_spark.queries.pipeline import BM25_FILTER_PRED

    docs = _docs(spark)
    qs = docs.where(F.col("doc_id") % 97 == 11).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 3), " "
        ).alias("q_text"),
    )

    # append carries docmeta
    from ccog_spark.operators.text_index import append_to_text_index

    grown = str(tmp_path / "grown")
    build_bm25_index(
        docs.where(F.col("doc_id") % 7 != 0), grown,
        meta_cols=("lang", "source"),
    )
    append_to_text_index(docs.where(F.col("doc_id") % 7 == 0), grown)
    scratch = str(tmp_path / "scratch")
    build_bm25_index(docs, scratch, meta_cols=("lang", "source"))
    a = sorted(map(tuple, query_bm25_index(
        spark, grown, qs, k=5, doc_filter=BM25_FILTER_PRED).collect()))
    b = sorted(map(tuple, query_bm25_index(
        spark, scratch, qs, k=5, doc_filter=BM25_FILTER_PRED).collect()))
    assert a == b and a

    # compact applies tombstones to docmeta
    del_ids = docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    delete_from_text_index(spark, scratch, del_ids)
    compact_text_index(spark, scratch)
    dm_ids = {
        r.doc_id
        for r in spark.read.parquet(scratch + "/docmeta").collect()
    }
    gone = {r.doc_id for r in del_ids.collect()}
    assert not (dm_ids & gone)

    # positional verbs: filtered matches == unfiltered ∩ allowed
    pos = str(tmp_path / "posfil")
    build_bm25_index(
        docs, pos, positions=True, meta_cols=("lang", "source")
    )
    phrases = docs.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    allowed = {
        r.doc_id
        for r in docs.where(F.expr(BM25_FILTER_PRED)).select("doc_id").collect()
    }
    unf = {
        tuple(r) for r in phrase_match_index(spark, pos, phrases).collect()
    }
    fil = {
        tuple(r)
        for r in phrase_match_index(
            spark, pos, phrases, doc_filter=BM25_FILTER_PRED
        ).collect()
    }
    assert fil == {r for r in unf if r[1] in allowed} and fil


def test_filtered_retrieval_predicate_pushdown(spark, tmp_path):
    """The doc_filter predicate must reach the docmeta parquet scan as
    a pushed filter (the narrow metadata table is corpus-sized — a
    post-scan filter would read every row of every column stripe), and
    the postings scan must still carry its bkt partition filters (the
    semi-join lands above the pruned scan, not instead of it)."""
    from ccog_spark.operators.text_index import (
        build_bm25_index,
        query_bm25_index,
    )
    from ccog_spark.queries.pipeline import BM25_FILTER_PRED

    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(1, "dup the"), (2, "dup stream")], "q_id long, q_text string"
    )
    idx = str(tmp_path / "filplan")
    build_bm25_index(docs, idx, n_buckets=32, meta_cols=("lang", "source"))
    df = query_bm25_index(spark, idx, qs, k=3, doc_filter=BM25_FILTER_PRED)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    flat = plan.replace(" ", "")
    assert "In(source," in flat  # predicate pushed into the docmeta scan
    # bucket pruning intact (round 16: the manifest opens the matched
    # buckets' NAMED postings files — a strict subset of the table)
    all_files = {
        p
        for p in glob.glob(os.path.join(idx, "postings", "bkt=*", "*"))
        if p.endswith(".parquet")
    }
    touched = {
        f.split("://")[-1]
        for f in df.inputFiles()
        if "/postings/" in f
    }
    assert touched and touched < all_files
    assert len(df.collect()) > 0


def test_snippet_match_hand_cases(spark):
    """text.snippet_match: window clamps at the document start, the
    FIRST occurrence wins, context is the raw split re-joined."""
    from ccog_spark.operators.text import snippet_match

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x x c d x x x c d x"),
        ],
        "doc_id long, text string",
    )
    ph = spark.createDataFrame([(1, "c d")], "q_id long, phrase string")
    got = {
        r.doc_id: (r.first_pos, r.snippet)
        for r in snippet_match(docs, ph, window=2).collect()
    }
    # doc 1: phrase at pos 3, window 2 → tokens 1..6
    assert got[1] == (3, "a b c d e f")
    # doc 2: FIRST occurrence at pos 3 (not 8) → tokens 1..6
    assert got[2] == (3, "x x c d x x")

    # window 0 → exactly the phrase
    got0 = {
        r.doc_id: r.snippet
        for r in snippet_match(docs, ph, window=0).collect()
    }
    assert got0 == {1: "c d", 2: "c d"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        snippet_match(docs, ph, window=-1)


def _fielded(docs):
    tk = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(tk, 1, 5), " ").alias("title"),
        F.array_join(
            F.expr(
                "slice(split(text, ' '), 6,"
                " greatest(size(split(text, ' ')) - 5, 0))"
            ),
            " ",
        ).alias("body"),
    )


@pytest.mark.slow
def test_bm25f_index_bit_identical_to_inline(spark, tmp_path):
    """query_bm25f_index == bm25f_topk row-for-row on the same
    fielded corpus (round 15, VERDICT r14 #4): per-field tf/dl from
    the index, combined through the SHARED bm25f_field_contrib and
    _bm25f_rank code. Weights are query-time parameters — a second
    weighting hits the same index without rebuild."""
    from ccog_spark.operators.text import bm25f_topk
    from ccog_spark.operators.text_index import (
        build_bm25f_index,
        query_bm25f_index,
    )

    docs = _docs(spark)
    fielded = _fielded(docs)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "bm25f_idx")
    meta = build_bm25f_index(fielded, idx, ("title", "body"), n_buckets=64)
    assert meta["fields"] == "title,body"
    assert meta["n_docs"] == docs.count()

    for weights in ((2.0, 1.0), (1.0, 3.0)):
        inline = sorted(
            map(
                tuple,
                bm25f_topk(
                    fielded, qs, ("title", "body"), weights, k=5
                ).collect(),
            )
        )
        from_idx = sorted(
            map(
                tuple,
                query_bm25f_index(spark, idx, qs, weights, k=5).collect(),
            )
        )
        assert inline == from_idx and inline

    # weight arity is validated against the stored fields
    with pytest.raises(ValueError, match="2 fields"):
        query_bm25f_index(spark, idx, qs, (1.0,), k=5)


def test_bm25f_index_postings_one_row_per_doc_term(spark, tmp_path):
    """The wide layout stores ONE row per (doc, term) across fields
    (tf_i = 0 for absent fields), bucket-partitioned like the
    single-field index — postings volume is the distinct (doc, term)
    count, not the per-field sum."""
    from ccog_spark.operators.text_index import build_bm25f_index

    docs = _docs(spark).limit(200)
    fielded = _fielded(docs)
    idx = str(tmp_path / "bm25f_layout")
    build_bm25f_index(fielded, idx, ("title", "body"), n_buckets=64)
    post = spark.read.parquet(f"{idx}/postings")
    assert set(post.columns) == {"doc_id", "t", "tf_0", "tf_1", "bkt"}
    assert post.count() == post.select("doc_id", "t").distinct().count()
    # every stored row has evidence in at least one field
    assert post.where((F.col("tf_0") == 0) & (F.col("tf_1") == 0)).count() == 0
    assert glob.glob(f"{idx}/postings/bkt=*")


def test_prf_index_bit_identical_to_inline(spark, tmp_path):
    """query_bm25_prf_index == bm25_prf_topk row-for-row (round 15,
    VERDICT r14 #5): pass 1 from the pruned posting buckets, feedback
    counts from the winners' postings rows (Σ tf ≡ token count), pass
    2 through the shared _bm25_rank core — zero corpus re-reads."""
    from ccog_spark.operators.text import bm25_prf_topk
    from ccog_spark.operators.text_index import query_bm25_prf_index

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "prf_idx")
    build_bm25_index(docs, idx, n_buckets=64)
    inline = sorted(
        map(
            tuple,
            bm25_prf_topk(docs, qs, k=5, k_fb=10, e_terms=3).collect(),
        )
    )
    from_idx = sorted(
        map(
            tuple,
            query_bm25_prf_index(
                spark, idx, qs, k=5, k_fb=10, e_terms=3
            ).collect(),
        )
    )
    assert inline == from_idx and inline


@pytest.mark.slow
def test_prf_index_respects_deletions(spark, tmp_path):
    """PRF from the index composes with the deletion lifecycle: after
    delete_from_text_index, both passes AND the feedback counts see
    only survivors — identical to inline PRF over the surviving
    corpus."""
    from ccog_spark.operators.text import bm25_prf_topk
    from ccog_spark.operators.text_index import (
        delete_from_text_index,
        query_bm25_prf_index,
    )

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "prf_del_idx")
    build_bm25_index(docs, idx, n_buckets=64)
    dels = docs.where(F.col("doc_id") % 13 == 3)
    delete_from_text_index(spark, idx, dels.select("doc_id"), docs_delta=dels)
    survivors = docs.where(F.col("doc_id") % 13 != 3)
    inline = sorted(
        map(
            tuple,
            bm25_prf_topk(survivors, qs, k=5, k_fb=10, e_terms=3).collect(),
        )
    )
    from_idx = sorted(
        map(
            tuple,
            query_bm25_prf_index(
                spark, idx, qs, k=5, k_fb=10, e_terms=3
            ).collect(),
        )
    )
    assert inline == from_idx and inline


@pytest.mark.slow
def test_bm25f_index_append_equals_union_build(spark, tmp_path):
    """append_to_bm25f_index (round 15): the grown per-field index
    answers exactly like a from-scratch build over the union corpus —
    postings/doclens appended, terms df-merged, n_docs and per-field
    sum_dls accumulated in meta. The single-field append contract,
    field-wide."""
    from ccog_spark.operators.text_index import (
        append_to_bm25f_index,
        build_bm25f_index,
        query_bm25f_index,
    )

    docs = _docs(spark)
    fielded = _fielded(docs)
    qs = _queries(spark, docs)
    base = fielded.where(F.col("doc_id") % 7 != 0)
    delta = fielded.where(F.col("doc_id") % 7 == 0)

    grown = str(tmp_path / "bm25f_grown")
    build_bm25f_index(base, grown, ("title", "body"), n_buckets=64)
    stats = append_to_bm25f_index(delta, grown)
    assert stats["appended"] == delta.count()
    assert stats["generation"] == 2
    assert stats["vocab_growth"] >= 0.0

    scratch = str(tmp_path / "bm25f_scratch")
    m2 = build_bm25f_index(fielded, scratch, ("title", "body"), n_buckets=64)
    assert stats["n_docs"] == m2["n_docs"]
    assert stats["sum_dls"] == m2["sum_dls"]
    assert stats["n_terms"] == m2["n_terms"]

    for weights in ((2.0, 1.0), (1.0, 3.0)):
        a = sorted(
            map(
                tuple,
                query_bm25f_index(spark, grown, qs, weights, k=5).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                query_bm25f_index(spark, scratch, qs, weights, k=5).collect(),
            )
        )
        assert a == b and a


def test_bm25f_index_append_torn_mutation_detected(spark, tmp_path):
    """A crash mid-append (injected: terms-stage write dies) leaves
    the _inflight marker, and the query side refuses the possibly
    inconsistent per-field index loudly."""
    from ccog_spark.operators import index_common as ic
    from ccog_spark.operators.text_index import (
        append_to_bm25f_index,
        build_bm25f_index,
        query_bm25f_index,
    )

    docs = _docs(spark).limit(400)
    fielded = _fielded(docs)
    qs = _queries(spark, _docs(spark))
    idx = str(tmp_path / "bm25f_torn")
    build_bm25f_index(
        fielded.where(F.col("doc_id") % 2 == 0), idx, ("title", "body"),
        n_buckets=64,
    )
    # injected crash: fail the mutation after begin_mutation by
    # handing append a delta that explodes mid-plan (invalid column)
    with pytest.raises(Exception):
        append_to_bm25f_index(
            fielded.where(F.col("doc_id") % 2 == 1).drop("body"), idx
        )
    assert ic.inflight_op(idx) is not None
    with pytest.raises(RuntimeError, match="torn"):
        query_bm25f_index(spark, idx, qs, (2.0, 1.0), k=5)


@pytest.mark.slow
def test_prf_index_forward_table_bit_identical_and_pruned(spark, tmp_path):
    """forward=True (round 15): the doc-clustered forward table makes
    PRF's feedback counts a dbkt-pruned read instead of a full
    postings-width scan — answers bit-identical to the inline
    operator, and the feedback scan's plan prunes to the winners'
    doc buckets."""
    from ccog_spark.operators.text import bm25_prf_topk
    from ccog_spark.operators.text_index import (
        _pruned_forward,
        _read_meta,
        query_bm25_prf_index,
    )

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "prf_fwd_idx")
    build_bm25_index(docs, idx, n_buckets=64, forward=True)
    assert os.path.isdir(f"{idx}/forward")
    meta = _read_meta(spark, idx)
    assert meta["has_forward"] is True

    inline = sorted(
        map(
            tuple,
            bm25_prf_topk(docs, qs, k=5, k_fb=10, e_terms=3).collect(),
        )
    )
    from_idx = sorted(
        map(
            tuple,
            query_bm25_prf_index(
                spark, idx, qs, k=5, k_fb=10, e_terms=3
            ).collect(),
        )
    )
    assert inline == from_idx and inline

    # the pruned forward scan reads ONLY the target ids' dbkt dirs
    some_ids = [r.doc_id for r in docs.limit(3).collect()]
    plan = _pruned_forward(
        spark, idx, meta, some_ids
    )._jdf.queryExecution().toString()
    assert "dbkt" in plan and "PartitionFilters" in plan
    got = {
        r.doc_id
        for r in _pruned_forward(spark, idx, meta, some_ids)
        .select("doc_id").distinct().collect()
        if r.doc_id in set(some_ids)
    }
    assert got == set(some_ids)


@pytest.mark.slow
def test_forward_table_rides_append_delete_compact(spark, tmp_path):
    """The forward table follows the full lifecycle: append lands the
    delta's doc-clustered rows, delete derives df decrements from the
    pruned forward scan (no docs_delta, no full postings scan),
    compact applies tombstones physically — PRF from the index equals
    inline PRF over the survivors at every step."""
    from ccog_spark.operators.text import bm25_prf_topk
    from ccog_spark.operators.text_index import (
        append_to_text_index,
        compact_text_index,
        delete_from_text_index,
        query_bm25_prf_index,
    )

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "fwd_life_idx")
    build_bm25_index(
        docs.where(F.col("doc_id") % 7 != 0), idx, n_buckets=64,
        forward=True,
    )
    append_to_text_index(docs.where(F.col("doc_id") % 7 == 0), idx)

    def check(corpus):
        a = sorted(
            map(
                tuple,
                bm25_prf_topk(corpus, qs, k=5, k_fb=10, e_terms=3).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                query_bm25_prf_index(
                    spark, idx, qs, k=5, k_fb=10, e_terms=3
                ).collect(),
            )
        )
        assert a == b and a

    check(docs)
    # delta-less delete: df decrements come from the forward table
    delete_from_text_index(
        spark, idx, docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    )
    survivors = docs.where(F.col("doc_id") % 13 != 3)
    check(survivors)
    st = compact_text_index(spark, idx)
    assert st["tombstones_applied"] > 0
    # tombstones applied to forward/ too: no deleted id remains
    fwd_ids = spark.read.parquet(f"{idx}/forward").select("doc_id").distinct()
    assert (
        fwd_ids.join(
            docs.where(F.col("doc_id") % 13 == 3).select("doc_id"),
            "doc_id", "left_semi",
        ).count()
        == 0
    )
    check(survivors)


@pytest.mark.slow
def test_forward_manifest_lifecycle_and_fallback(spark, tmp_path):
    """Round-16 manifest (VERDICT r15 #3): build writes a dbkt→files
    manifest that pruned reads open by name (no partition discovery);
    append refreshes it (new files appear); verify flags a stale
    manifest; deleting it falls back to the pre-r16 listing read with
    identical answers."""
    import json

    from ccog_spark.operators.text_index import (
        _FWD_MANIFEST,
        _pruned_forward,
        _read_meta,
        append_to_text_index,
        compact_text_index,
        delete_from_text_index,
        verify_text_index,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "fwd_man_idx")
    build_bm25_index(
        docs.where(F.col("doc_id") % 7 != 0), idx, n_buckets=64,
        forward=True,
    )
    man_path = os.path.join(idx, _FWD_MANIFEST)
    assert os.path.exists(man_path)
    man0 = json.load(open(man_path))
    live = {
        f"{d}/{f}"
        for d in os.listdir(f"{idx}/forward")
        if d.startswith("dbkt=")
        for f in os.listdir(f"{idx}/forward/{d}")
        if f.endswith(".parquet")
    }
    assert {r for v in man0.values() for r in v} == live

    # the pruned read must NOT list partition directories: its plan
    # reads the manifest-named files only (still dbkt-partitioned)
    meta = _read_meta(spark, idx)
    some_ids = [
        r.doc_id
        for r in docs.where(F.col("doc_id") % 7 != 0).limit(3).collect()
    ]
    fwd = _pruned_forward(spark, idx, meta, some_ids)
    got = {
        r.doc_id
        for r in fwd.select("doc_id").distinct().collect()
        if r.doc_id in set(some_ids)
    }
    assert got == set(some_ids)
    n_in = len(fwd.inputFiles())
    n_all = len(live)
    assert 0 < n_in < n_all, (n_in, n_all)

    # append refreshes the manifest (grown file list, superset)
    append_to_text_index(docs.where(F.col("doc_id") % 7 == 0), idx)
    man1 = json.load(open(man_path))
    f0 = {r for v in man0.values() for r in v}
    f1 = {r for v in man1.values() for r in v}
    assert f0 < f1
    assert verify_text_index(spark, idx)["ok"]

    # stale manifest (simulated by restoring the pre-append one) is
    # flagged by the audit
    json.dump(man0, open(man_path, "w"))
    rep = verify_text_index(spark, idx)
    assert not rep["ok"]
    assert any("forward manifest drift" in e for e in rep["errors"])
    json.dump(man1, open(man_path, "w"))

    # compact rewrites forward/ and the manifest follows
    delete_from_text_index(
        spark, idx, docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    )
    compact_text_index(spark, idx)
    man2 = json.load(open(man_path))
    assert {r for v in man2.values() for r in v} != f1
    assert verify_text_index(spark, idx)["ok"]

    # fallback: without the manifest the listing read answers the same
    want = sorted(map(tuple, _pruned_forward(
        spark, idx, meta, some_ids).collect()))
    os.remove(man_path)
    got2 = sorted(map(tuple, _pruned_forward(
        spark, idx, meta, some_ids).collect()))
    assert got2 == want
    assert verify_text_index(spark, idx)["ok"]  # absent = pre-r16, ok


@pytest.mark.slow
def test_bm25f_delete_equals_fromscratch_survivors(spark, tmp_path):
    """delete_from_bm25f_index (round 15): tombstones + any-field df
    decrement + per-field sum_dls/n_docs shrink ⇒ query results
    bit-identical to a from-scratch per-field build over the
    survivors, for two weightings; compact applies physically and
    preserves answers; deletes are idempotent."""
    from ccog_spark.operators.text_index import (
        build_bm25f_index,
        compact_bm25f_index,
        delete_from_bm25f_index,
        query_bm25f_index,
    )

    docs = _docs(spark)
    fielded = _fielded(docs)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "bm25f_del")
    build_bm25f_index(fielded, idx, ("title", "body"), n_buckets=64)
    dels = fielded.where(F.col("doc_id") % 13 == 3)
    m = delete_from_bm25f_index(spark, idx, dels.select("doc_id"))
    assert m["deleted"] == dels.count()
    # idempotent: re-deleting the same slice is a no-op
    m2 = delete_from_bm25f_index(spark, idx, dels.select("doc_id"))
    assert m2["deleted"] == 0

    scratch = str(tmp_path / "bm25f_del_scratch")
    survivors = fielded.where(F.col("doc_id") % 13 != 3)
    ms = build_bm25f_index(survivors, scratch, ("title", "body"), n_buckets=64)
    assert (m["n_docs"], m["sum_dls"], m["n_terms"]) == (
        ms["n_docs"], ms["sum_dls"], ms["n_terms"]
    )

    def rows(ix, w):
        return sorted(
            map(tuple, query_bm25f_index(spark, ix, qs, w, k=5).collect())
        )

    for w in ((2.0, 1.0), (1.0, 3.0)):
        assert rows(idx, w) == rows(scratch, w) and rows(idx, w)

    st = compact_bm25f_index(spark, idx)
    assert st["tombstones_applied"] == dels.count()
    # physically gone, answers unchanged
    post_ids = spark.read.parquet(f"{idx}/postings").select("doc_id")
    assert (
        post_ids.join(dels.select("doc_id"), "doc_id", "left_semi").count()
        == 0
    )
    for w in ((2.0, 1.0),):
        assert rows(idx, w) == rows(scratch, w)


def test_proximity_plan_is_linear_equi_join(spark):
    """Round 15 (VERDICT r14 #2): the proximity core's physical plan
    must join window starts to tokens EQUI on (q_id, id, span
    bucket) — with the span range as a residual condition — never as
    a range-filtered pair join over (q_id, id) alone (the r14 shape
    that materialized m_d² pairs per document), and never a
    nested-loop/cartesian."""
    from ccog_spark.operators.text import proximity_match

    docs = _docs(spark).limit(500)
    ph = docs.limit(4).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )
    plan = proximity_match(docs, ph, max_span=5)._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bucket key rides in the core join's equi-key list
    import re

    # at fixture scale Catalyst may pick any equi-join strategy for
    # the core join — the contract is the KEY SHAPE (wb in the equi
    # keys, range as residual), not the physical operator
    joins = [
        ln
        for ln in plan.splitlines()
        if (
            "SortMergeJoin" in ln
            or "ShuffledHashJoin" in ln
            or "BroadcastHashJoin" in ln
        )
        and "wb" in ln
    ]
    assert joins, "span-bucket equi-join missing from the physical plan"
    assert any("pos" in ln and ">=" in ln for ln in joins), (
        "span range must ride as a residual condition on the equi-join"
    )


def test_verify_detects_forward_table_drift(spark, tmp_path):
    """verify_text_index (round 15 extension): a forward table that
    lost rows (or a missing directory) is reported — the audit twin
    of the df/doclens drift checks."""
    import shutil

    from ccog_spark.operators.text_index import verify_text_index

    docs = _docs(spark).limit(300)
    idx = str(tmp_path / "fw_audit")
    build_bm25_index(docs, idx, n_buckets=64, forward=True)
    assert verify_text_index(spark, idx)["ok"]

    # corrupt: drop one dbkt directory
    dirs = sorted(glob.glob(f"{idx}/forward/dbkt=*"))
    shutil.rmtree(dirs[0])
    rep = verify_text_index(spark, idx)
    assert not rep["ok"]
    assert any("forward-table drift" in e for e in rep["errors"])

    # corrupt harder: forward gone entirely
    shutil.rmtree(f"{idx}/forward")
    rep = verify_text_index(spark, idx)
    assert any("forward/ is missing" in e for e in rep["errors"])


@pytest.mark.slow
def test_snippet_index_bit_identical_and_lifecycle(spark, tmp_path):
    """snippet_match_index == snippet_match row-for-row (shared
    _snippet_core; anchors from the posting buckets, text sliced only
    for matching docs); a deleted document stops yielding snippets
    even though its text row is still in the docs frame; a
    positions-less index refuses loudly."""
    import pytest as _pytest

    from ccog_spark.operators.text import snippet_match
    from ccog_spark.operators.text_index import (
        delete_from_text_index,
        snippet_match_index,
    )

    docs = _docs(spark)
    phrases = docs.where(F.col("doc_id") % 101 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 3), " "
        ).alias("phrase"),
    )

    idx = str(tmp_path / "snip_idx")
    build_bm25_index(docs, idx, n_buckets=64, positions=True)

    want = sorted(map(tuple, snippet_match(docs, phrases, window=3).collect()))
    got = sorted(
        map(
            tuple,
            snippet_match_index(spark, idx, phrases, docs, window=3).collect(),
        )
    )
    assert got == want and len(got) > 0

    # deletion hides the doc's snippets — docs still carries its text
    dels = docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    delete_from_text_index(spark, idx, dels)
    del_set = {r.doc_id for r in dels.collect()}
    surv = sorted(
        map(
            tuple,
            snippet_match_index(spark, idx, phrases, docs, window=3).collect(),
        )
    )
    assert surv == [t for t in want if t[1] not in del_set]

    # scoring-only index refuses
    flat = str(tmp_path / "snip_flat")
    build_bm25_index(docs, flat, n_buckets=64)
    with _pytest.raises(ValueError, match="positions=True"):
        snippet_match_index(spark, flat, phrases, docs)


@pytest.mark.slow
def test_diversified_from_index_docmeta_matches_inline(spark, tmp_path):
    """query_bm25_index(k=20) + diversify_topk over the index's
    docmeta == the fully inline bm25_topk + diversify_topk over the
    corpus projection — the pipeline_diversified_index recipe: rank
    and re-cut without re-reading the corpus text (docmeta is the
    groups table)."""
    from ccog_spark.operators.text import diversify_topk

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "div_idx")
    build_bm25_index(docs, idx, n_buckets=64, meta_cols=("source",))

    inline = diversify_topk(
        bm25_topk(docs, qs, k=20),
        docs.select("doc_id", "source"),
        "source",
        k=5,
        max_per_group=2,
    )
    meta = spark.read.parquet(os.path.join(idx, "docmeta"))
    from_idx = diversify_topk(
        query_bm25_index(spark, idx, qs, k=20),
        meta,
        "source",
        k=5,
        max_per_group=2,
    )
    want = sorted(map(tuple, inline.collect()))
    got = sorted(map(tuple, from_idx.collect()))
    assert got == want and len(got) > 0


def _blockmax_corpus(spark, n=4096, hot_lo=2048, hot_n=12):
    """Synthetic corpus engineered so BLOCK-MAX actually cuts: every
    doc carries 18 identical filler tokens + the stopword 'the'
    (avgdl ≈ 20 ⇒ the tf=1 saturation ceiling sits BELOW the hot
    docs' realized score); 'mid' appears with tf 1 in every 4th doc
    across all id blocks but with tf 9 only in docs
    [hot_lo, hot_lo+hot_n) — one hot 1024-id block. For the query
    'mid the' the planner makes 'mid' essential, θ derives from the
    hot docs, and every cold block's tf=1 ceiling is strictly below
    θ − ub('the') ⇒ cold blocks are skippable, losslessly."""
    filler = " ".join(f"f{i}" for i in range(18))
    rows = []
    for i in range(n):
        parts = [filler, "the"]
        if i % 4 == 0:
            parts.append("mid")
        if hot_lo <= i < hot_lo + hot_n:
            parts.extend(["mid"] * 9)
        rows.append((i, " ".join(parts)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_blockmax_lossless_engaged_and_live(spark, tmp_path):
    """query_bm25_index over a block_max index == the inline operator
    == the block_max=False plan (lossless); TAMPERING the stored
    ceilings changes answers (proof the cut is actually consulted,
    not dead code) and the verify audit flags the tampered index."""
    import shutil

    from ccog_spark.operators.text_index import verify_text_index

    docs = _blockmax_corpus(spark)
    q = spark.createDataFrame([(1, "mid the")], "q_id long, q_text string")
    idx = str(tmp_path / "bmx_idx")
    meta = build_bm25_index(docs, idx, n_buckets=32, block_max=True)
    assert meta["has_blockmax"]
    bs = spark.read.parquet(os.path.join(idx, "blockstats"))
    # 4 id blocks exist and the hot block's ceiling is 9
    mids = {(r.blk, r.max_tf) for r in bs.where(F.col("t") == "mid").collect()}
    # hot docs divisible by 4 carry 1+9 occurrences → ceiling 10
    assert mids == {(0, 1), (1, 1), (2, 10), (3, 1)}

    a = sorted(map(tuple, bm25_topk(docs, q, k=5, min_postings=0).collect()))
    b = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    c = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max=False).collect()))
    assert a == b == c and len(a) == 5
    # the winners are the hot-block docs (θ actually derives from them)
    assert all(2048 <= t[1] < 2060 for t in b)
    assert verify_text_index(spark, idx)["ok"]

    # tamper: cap the hot block's ceiling at 1 — a LOSSY bound. The
    # engaged query must now lose the hot docs (the cut is live), and
    # the audit must flag the below-live ceiling.
    stage = os.path.join(idx, "blockstats__tampered")
    bs.withColumn(
        "max_tf",
        F.when(
            (F.col("t") == "mid") & (F.col("blk") == 2), F.lit(1)
        ).otherwise(F.col("max_tf")),
    ).select("t", "blk", "max_tf", "bkt").write.mode(
        "overwrite"
    ).partitionBy("bkt").parquet(stage)
    shutil.rmtree(os.path.join(idx, "blockstats"))
    os.rename(stage, os.path.join(idx, "blockstats"))
    # the tamper targets ceiling VALUES; refresh the round-16 bucket
    # manifest so the named-file read sees the swapped files (a stale
    # manifest is ITS OWN audited failure mode)
    from ccog_spark.operators.text_index import _write_bucket_manifest

    _write_bucket_manifest(idx)
    d = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    assert d != b, "tampered ceilings must change the engaged plan"
    rep = verify_text_index(spark, idx)
    assert not rep["ok"]
    assert any("blockstats ceiling BELOW live max" in e for e in rep["errors"])
    # round-16 cost gate: with the DEFAULT block_max=True this tiny
    # corpus's essential Σdf sits far below the crossover floor, so
    # the (tampered!) ceilings are never consulted and answers stay
    # correct — the gate's decline IS the plain max-score plan
    e = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0).collect()))
    assert e == b, "auto gate must decline below the postings floor"


@pytest.mark.slow
def test_blockmax_cost_gate_thresholds(spark, tmp_path, monkeypatch):
    """The round-16 engagement gate is the essential-union Σdf vs
    text.BM25_BLOCKMAX_MIN_POSTINGS: floor 0 → block_max=True engages
    the cut (tampered ceilings change answers, proving consultation);
    default floor → declines (tampered ceilings ignored); 'force'
    bypasses the floor entirely; invalid spellings are rejected."""
    import shutil

    from ccog_spark.operators import text as T

    docs = _blockmax_corpus(spark)
    q = spark.createDataFrame([(1, "mid the")], "q_id long, q_text string")
    idx = str(tmp_path / "bmx_gate")
    build_bm25_index(docs, idx, n_buckets=32, block_max=True)
    want = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max=False).collect()))

    # tamper the hot block's ceiling so an ENGAGED cut is observable
    bs = spark.read.parquet(os.path.join(idx, "blockstats"))
    stage = os.path.join(idx, "blockstats__tampered")
    bs.withColumn(
        "max_tf",
        F.when(
            (F.col("t") == "mid") & (F.col("blk") == 2), F.lit(1)
        ).otherwise(F.col("max_tf")),
    ).select("t", "blk", "max_tf", "bkt").write.mode(
        "overwrite"
    ).partitionBy("bkt").parquet(stage)
    shutil.rmtree(os.path.join(idx, "blockstats"))
    os.rename(stage, os.path.join(idx, "blockstats"))
    from ccog_spark.operators.text_index import _write_bucket_manifest

    _write_bucket_manifest(idx)

    # default floor: gate declines, tampering invisible
    got = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max=True).collect()))
    assert got == want
    # floor lowered to 0: the SAME True spelling now engages
    monkeypatch.setattr(T, "BM25_BLOCKMAX_MIN_POSTINGS", 0)
    engaged = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max=True).collect()))
    assert engaged != want, "floor 0 must engage the (tampered) cut"
    monkeypatch.setattr(T, "BM25_BLOCKMAX_MIN_POSTINGS", 20_000_000)
    forced = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    assert forced == engaged, "'force' bypasses the floor"
    with pytest.raises(ValueError, match="block_max"):
        query_bm25_index(spark, idx, q, k=5, block_max="yes")


@pytest.mark.slow
def test_blockmax_lifecycle_append_delete_compact(spark, tmp_path):
    """Ceilings ride the index lifecycle losslessly: append adds delta
    rows the query max-merges (grown == from-scratch union); delete
    leaves ceilings stale-HIGH (still == from-scratch over survivors);
    compact rebuilds them exact (verify ok, answers unchanged)."""
    from ccog_spark.operators.text_index import (
        append_to_text_index,
        compact_text_index,
        delete_from_text_index,
        verify_text_index,
    )

    docs = _blockmax_corpus(spark)
    base = docs.where(F.col("doc_id") < 3072)
    delta = docs.where(F.col("doc_id") >= 3072)
    q = spark.createDataFrame([(1, "mid the")], "q_id long, q_text string")

    idx = str(tmp_path / "bmx_life")
    build_bm25_index(base, idx, n_buckets=32, block_max=True)
    append_to_text_index(delta, idx)
    want = sorted(map(tuple, bm25_topk(docs, q, k=5, min_postings=0).collect()))
    got = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    assert got == want

    # delete the hot docs: θ drops, stale-high ceilings keep every
    # needed block readable — survivors' answers must be exact
    dels = docs.where(
        (F.col("doc_id") >= 2048) & (F.col("doc_id") < 2060)
    ).select("doc_id")
    delete_from_text_index(spark, idx, dels)
    surv = docs.where(
        (F.col("doc_id") < 2048) | (F.col("doc_id") >= 2060)
    )
    want2 = sorted(map(tuple, bm25_topk(surv, q, k=5, min_postings=0).collect()))
    got2 = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    assert got2 == want2

    # compact: ceilings rebuilt exact from surviving postings
    compact_text_index(spark, idx)
    assert verify_text_index(spark, idx)["ok"]
    live = (
        spark.read.parquet(os.path.join(idx, "postings"))
        .withColumn("blk", F.expr("CAST(doc_id DIV 1024 AS BIGINT)"))
        .groupBy("t", "blk")
        .agg(F.max("tf").alias("m"))
    )
    stored = spark.read.parquet(os.path.join(idx, "blockstats")).groupBy(
        "t", "blk"
    ).agg(F.max("max_tf").alias("m"))
    assert live.exceptAll(stored).count() == 0
    assert stored.exceptAll(live).count() == 0
    got3 = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, block_max="force").collect()))
    assert got3 == want2


@pytest.mark.slow
def test_blockmax_composes_with_doc_filter(spark, tmp_path):
    """doc_filter (Lucene candidate narrowing) × block-max: ceilings
    are filter-agnostic (stale-HIGH relative to the allowed set —
    the bound only loosens), so the engaged block cut under a filter
    must equal the same filtered query without it, and every result
    must satisfy the predicate."""
    docs = _blockmax_corpus(spark).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 4))
    )
    q = spark.createDataFrame([(1, "mid the")], "q_id long, q_text string")
    idx = str(tmp_path / "bmx_fil")
    build_bm25_index(
        docs, idx, n_buckets=32, block_max=True, meta_cols=("source",)
    )
    pred = "source IN ('src0', 'src1')"
    a = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, doc_filter=pred,
        block_max="force").collect()))
    b = sorted(map(tuple, query_bm25_index(
        spark, idx, q, k=5, min_postings=0, doc_filter=pred,
        block_max=False).collect()))
    assert a == b and len(a) == 5
    allowed = {
        r.doc_id for r in docs.where(F.expr(pred)).select("doc_id").collect()
    }
    assert all(t[1] in allowed for t in a)


@pytest.mark.slow
def test_bucket_manifest_lifecycle_and_fallback(spark, tmp_path):
    """Round-16 bucket manifest: build writes bkt→file lists for
    postings/terms/blockstats; append/delete/compact refresh it (the
    lifecycle tests above already prove queries stay bit-identical
    through every verb — here: the file lists themselves track the
    mutations); verify flags a stale manifest per table; deleting the
    manifest falls back to partition discovery with identical
    answers."""
    import json

    from ccog_spark.operators.text_index import (
        _BKT_MANIFEST,
        append_to_text_index,
        compact_text_index,
        delete_from_text_index,
        verify_text_index,
    )

    docs = _docs(spark)
    qs = _queries(spark, docs)
    idx = str(tmp_path / "bkt_man_idx")
    build_bm25_index(
        docs.where(F.col("doc_id") % 7 != 0), idx, n_buckets=32,
        block_max=True,
    )
    man_path = os.path.join(idx, _BKT_MANIFEST)
    man0 = json.load(open(man_path))
    assert set(man0) == {"postings", "terms", "blockstats"}
    for table in man0:
        live = {
            f"{d}/{f}"
            for d in os.listdir(f"{idx}/{table}")
            if d.startswith("bkt=")
            for f in os.listdir(f"{idx}/{table}/{d}")
            if f.endswith(".parquet")
        }
        assert {r for v in man0[table].values() for r in v} == live

    # append grows postings/blockstats file lists and rewrites terms
    append_to_text_index(docs.where(F.col("doc_id") % 7 == 0), idx)
    man1 = json.load(open(man_path))
    f0 = {r for v in man0["postings"].values() for r in v}
    f1 = {r for v in man1["postings"].values() for r in v}
    assert f0 < f1
    assert verify_text_index(spark, idx)["ok"]

    # stale manifest → per-table drift flagged
    json.dump(man0, open(man_path, "w"))
    rep = verify_text_index(spark, idx)
    assert not rep["ok"]
    assert any("bucket manifest drift on postings" in e
               for e in rep["errors"])
    json.dump(man1, open(man_path, "w"))

    # delete rewrites terms → manifest follows; compact rewrites all
    delete_from_text_index(
        spark, idx, docs.where(F.col("doc_id") % 13 == 3).select("doc_id")
    )
    man2 = json.load(open(man_path))
    assert (
        {r for v in man2["terms"].values() for r in v}
        != {r for v in man1["terms"].values() for r in v}
    )
    compact_text_index(spark, idx)
    assert verify_text_index(spark, idx)["ok"]

    # fallback: without the manifest the discovery read answers the same
    want = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=5).collect()))
    os.remove(man_path)
    got = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=5).collect()))
    assert got == want and want
    assert verify_text_index(spark, idx)["ok"]  # absent = pre-r16, ok
