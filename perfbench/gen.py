"""Seeded input generators. Everything the program receives is made
here from the ``--seed`` argument: the same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np

# sf0.1 `documents` draws every word uniformly from this 30-word
# vocabulary, 10-100 words a row; one row in 20 is an earlier row's text
# plus " dup". The corpus keeps that content at a fifth of sf0.1's rows
# (1000 documents, 400 embeddings), which is what fits a run; see README.md.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.1475, 0.1475, 0.1465, 0.1465)
N_DOCS, N_DUPS, N_VECS, EMB_DIM = 1000, 50, 400, 64

# Catalog tables the LLM rows never read. They are written empty with
# their fixture schemas so DuckDB views over every catalog table resolve.
_EMPTY_TABLES = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [("n_nationkey", "int32"), ("n_name", "string"),
               ("n_regionkey", "int32")],
    "customer": [("c_custkey", "int64"), ("c_name", "string"),
                 ("c_nationkey", "int32"), ("c_acctbal", "float64"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "int64"), ("s_name", "string"),
                 ("s_nationkey", "int32"), ("s_acctbal", "float64")],
    "part": [("p_partkey", "int64"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int32"), ("p_retailprice", "float64")],
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"),
               ("o_orderstatus", "string"), ("o_totalprice", "float64"),
               ("o_orderdate", "timestamp[ms]"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "int64"), ("l_partkey", "int64"),
                 ("l_suppkey", "int64"), ("l_linenumber", "int32"),
                 ("l_quantity", "float64"), ("l_extendedprice", "float64"),
                 ("l_discount", "float64"), ("l_tax", "float64"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp[ms]")],
    "events": [("event_id", "int64"), ("ts", "timestamp[us]"),
               ("user_id", "int64"), ("event_type", "string"),
               ("value", "float64"), ("props", "string")],
}


def raster(seed: int, size: int, blocksize: int):
    """3-band uint8 array (smooth field plus noise) and its validity
    mask. One whole ``blocksize`` tile is invalid, so the writer elides
    it, and a ragged invalid patch crosses a tile edge. Valid pixels are
    never 0, the nodata value, so a decode can be checked bit for bit."""
    rng = np.random.default_rng([seed, 1])
    yy, xx = np.mgrid[0:size, 0:size].astype(np.float64)
    bands = []
    for _ in range(3):
        fx, fy = rng.uniform(20, 90, 2)
        ph = rng.uniform(0, 2 * np.pi)
        field = 128 + 60 * np.sin(xx / fx + ph) + 40 * np.cos(yy / fy)
        field += rng.normal(0, 8, (size, size))
        bands.append(np.clip(np.rint(field), 1, 255).astype(np.uint8))
    arr = np.stack(bands)
    mask = np.ones((size, size), dtype=np.uint8)
    n_t = size // blocksize
    ty, tx = rng.integers(0, n_t, 2)
    mask[ty * blocksize:(ty + 1) * blocksize,
         tx * blocksize:(tx + 1) * blocksize] = 0
    cy, cx = rng.integers(blocksize // 2, size - blocksize // 2, 2)
    mask[cy - 20:cy + 20, cx - 40:cx + 40] = 0
    return arr, mask


def windows(seed: int, n: int, level_dims: list[int], bands: int = 3):
    """``n`` read requests: (level, (x0, y0, x1, y1), band subset or
    None). Levels take turns, so every run reads the same mix of levels
    (a seeded level mix moved the median read time by ~20 % between
    seeds); at each level the window side is drawn from half to all of
    the level's extent; about one request in three reads a band subset."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n):
        level = i % len(level_dims)
        ext = level_dims[level]
        w, h = (int(v) for v in rng.integers(ext // 2, ext + 1, 2))
        x0 = int(rng.integers(0, ext - w + 1))
        y0 = int(rng.integers(0, ext - h + 1))
        sub = None
        if rng.random() < 1 / 3:
            k = int(rng.integers(1, bands))
            sub = sorted(int(b) for b in rng.choice(bands, k, replace=False))
        out.append((level, (x0, y0, x0 + w, y0 + h), sub))
    return out


def corpus(seed: int, sf_dir: str, n_docs: int = N_DOCS,
           n_vecs: int = N_VECS) -> int:
    """Write every catalog table under ``sf_dir``: `documents` and
    `embeddings` with sf0.1's vocabulary, lengths and duplicate share;
    the other tables empty. Returns the raw corpus bytes (UTF-8 text
    plus float32 vectors)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    n_dups = n_docs * N_DUPS // N_DOCS
    n_base = n_docs - n_dups
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n_base)
    ]
    src = rng.choice(n_base, n_dups, replace=False)
    texts += [texts[i] + " dup" for i in src]
    ids = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)
    texts = [texts[i] for i in order]
    doc_id = ids[order]
    docs = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    vecs = rng.normal(0, 1, (n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": rng.permutation(n_vecs).astype(np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))

    for name, cols in _EMPTY_TABLES.items():
        schema = pa.schema([(c, pa.type_for_alias(t)) for c, t in cols])
        pq.write_table(schema.empty_table(),
                       os.path.join(sf_dir, f"{name}.parquet"))
    return sum(len(t.encode()) for t in texts) + vecs.nbytes


def op_order(seed: int, units: list[str], passes: int) -> list[list[str]]:
    """Unit order for each pass: the first pass in the given order (it
    runs on a cold JVM, where the first op pays the shared warm-up, so
    its order must not depend on the seed), later passes in a seeded
    order; no unit ever runs right after itself, across passes too."""
    rng = np.random.default_rng([seed, 4])
    out = [list(units)]
    for _ in range(passes - 1):
        p = [units[i] for i in rng.permutation(len(units))]
        if len(p) > 1 and p[0] == out[-1][-1]:
            p[0], p[1] = p[1], p[0]
        out.append(p)
    return out
