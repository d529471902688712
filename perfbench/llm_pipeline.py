"""llm_pipeline workload: one pass runs two registry rows and the
persisted ANN index lifecycle, called verb by verb, over a seeded
corpus. An untimed warm-up pass runs first."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.harness import Clock, timings

# A pass: these registry rows, then the ann_index_delete steps called
# verb by verb (its oracle SQL checks them). The other rows and the BM25
# index steps do not fit the run budget; see README.md.
ROWS = ("dedup_cc", "multimodal_features")
ANN_ORACLE = "ann_index_delete"


class Workload:
    def __init__(self, seed: int, work: str):
        """Writes the corpus and starts its DuckDB oracles on another
        thread, so they overlap the session start."""
        self.seed, self.work = seed, work
        self.spark = self.tr = None
        self.sf_dir = os.path.join(work, "corpus")
        self.raw_bytes = gen.corpus(seed, self.sf_dir)
        pool = ThreadPoolExecutor(1)
        self._oracle = pool.submit(
            _oracle_hashes, self.sf_dir, [*ROWS, ANN_ORACLE])
        pool.shutdown(wait=False)
        self.order = gen.op_order(seed, [*ROWS, "ann_index"], passes=64)
        self.n_pass = 0
        self.idx_root = os.path.join(work, "indexes")
        self.reads: list[Clock] = []
        self.writes: list[Clock] = []
        self.passes: list[Clock] = []
        self.timed = False  # samples of the warm-up pass are not timings
        self.results: list[tuple[str, str, list, list]] = []  # op, qid, cols, rows
        self.errors: list[str] = []
        self.tracked_frames = 0
        self.op_times: list[tuple[str, float]] = []  # (op, end offset in pass)
        self.index_bytes: list[int] = []
        self.attempted = 0

    def warm_up(self) -> None:
        """Wait for the oracles, so they do not run beside timed work,
        then run one untimed pass in a fixed order: the JVM's JIT and
        code generation and the Python workers are warm before timing.
        Its results are checked like any other."""
        self.expected = self._oracle.result()
        self.run_pass()
        self.timed = True

    # -- ops ---------------------------------------------------------
    def _row(self, qid: str, op: str) -> None:
        from ccog_spark.queries.registry import REGISTRY

        self.attempted += 1
        with Clock() as clock:
            with self.tr.span(f"llm.{qid}.build", op):
                df = REGISTRY[qid](self.spark, self.sf_dir)
            with self.tr.span(f"llm.{qid}.exec", op):
                rows = df.collect()
        if self.timed:
            self.reads.append(clock)
        self.results.append((op, qid, list(df.columns), [tuple(r) for r in rows]))

    def _timed(self, name: str, op: str, fn, into: list):
        self.attempted += 1
        with Clock() as clock, self.tr.span(name, op):
            out = fn()
        if self.timed:
            into.append(clock)
        return out

    def _ann_index(self, op: str) -> None:
        from pyspark.sql import functions as F

        from ccog_spark.catalog import load_table
        from ccog_spark.operators.ann_index import (
            build_ivfpq_index, delete_from_ann_index, query_ivfpq_index)
        from ccog_spark.queries.pipeline import EMB_DIM, _queries_subset

        idx = os.path.join(self.idx_root, op)
        emb = load_table(self.spark, self.sf_dir, "embeddings")
        self._timed("operators.ann_index.build", op,
                    lambda: build_ivfpq_index(emb, EMB_DIM, idx), self.writes)
        self._timed("operators.ann_index.delete", op, lambda: delete_from_ann_index(
            self.spark, idx, emb.where(F.col("vec_id") % 11 == 5).select("vec_id")),
            self.writes)

        def query():
            df = query_ivfpq_index(self.spark, idx, _queries_subset(emb), k=3
                                   ).orderBy("q_id", "rn")
            return df.columns, df.collect()

        cols, rows = self._timed("operators.ann_index.query", op, query, self.reads)
        self.results.append((op, ANN_ORACLE, cols, [tuple(r) for r in rows]))
        if self.timed:
            self.index_bytes.append(_du(idx))

    def run_pass(self) -> None:
        from ccog_spark import cache_ledger

        k = self.n_pass
        self.n_pass += 1
        with Clock() as clock:
            for unit in self.order[k]:
                op = f"p{k}.{unit}"
                try:
                    if unit == "ann_index":
                        self._ann_index(op)
                    else:
                        self._row(unit, op)
                except Exception as e:  # count the failure, keep measuring
                    self.errors.append(f"{op}: {e!r}"[:300])
                self.op_times.append((op, clock.elapsed()))
                held = len(cache_ledger.session_state(self.spark)["persists"])
                self.tracked_frames = max(self.tracked_frames, held)
        if self.timed:
            self.passes.append(clock)

    # -- correctness (outside the timed window) ------------------------
    def check(self, digests: dict) -> list[str]:
        from ccog_spark.harness import _hash_rows

        bad = []
        for op, qid, cols, rows in self.results:
            n, h, dcols = self.expected[qid]
            if sorted(cols) != sorted(dcols) or (len(rows), _hash_rows(cols, rows)) != (n, h):
                bad.append(f"{op}: {len(rows)} rows, hash differs from the {qid} oracle ({n} rows)")
        return bad

    # -- metrics -----------------------------------------------------
    def end_to_end(self) -> dict:
        return dict(
            timings(self.passes, self.writes, self.reads),
            stored_bytes_per_raw_byte=(
                sum(self.index_bytes) / (self.raw_bytes * len(self.passes))))

    def per_layer(self, attr, notes: list[str]) -> dict:
        out = {}
        n = len(self.passes)
        for qid in ROWS:
            b = self.tr.named(f"llm.{qid}.build")
            e = self.tr.named(f"llm.{qid}.exec")
            jb = [attr.total(group=s["group"]) for s in b]
            je = [attr.total(group=s["group"]) for s in e]
            both = jb + je
            pre = f"llm.{qid}."
            out[pre + "build_s"] = sum(s["dur"] for s in b) / n
            out[pre + "build_jobs"] = sum(j["jobs"] for j in jb) / n
            out[pre + "exec_fetch_s"] = sum(s["dur"] for s in e) / n
            out[pre + "exec_jobs"] = sum(j["jobs"] for j in je) / n
            for k in ("executor_cpu_s", "shuffle_bytes", "spill_bytes", "python_worker_s"):
                out[pre + k] = sum(j[k] for j in both) / n
        for v in ("build", "delete", "query"):
            spans = self.tr.named(f"operators.ann_index.{v}")
            out[f"operators.ann_index.{v}_s"] = sum(s["dur"] for s in spans) / n
        out["cache_ledger.tracked_frames"] = self.tracked_frames
        return out


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _oracle_hashes(sf_dir: str, qids: list[str]) -> dict[str, tuple]:
    """(row count, harness hash, columns) of each row's DuckDB oracle."""
    from ccog_spark.harness import _hash_rows, duckdb_conn
    from ccog_spark.queries.registry import ORACLE

    con = duckdb_conn(sf_dir)
    try:
        con.execute("SET threads = 2")
        out = {}
        for qid in qids:
            res = con.execute(ORACLE[qid])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[qid] = (len(rows), _hash_rows(cols, rows), cols)
        return out
    finally:
        con.close()
