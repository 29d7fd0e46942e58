"""Seeded input generators for the benchmark.

Every table derives from ``(workload, seed)`` alone; nothing is read from
outside the checkout. A geo workload is written as an "sf-dir" (one
parquet file per driver table) so the ``entry_queries`` functions and
their DuckDB oracles run on it unchanged. Tables the geo queries never
touch are written as empty one-column stubs so that
``entry_queries._views`` can register every name. ``corpus`` builds the
documents and embeddings the traced run's text-side layers use.

Generated dirs are cached under ``<root>/<workload>-<seed>/`` and
reused when their ``meta.json`` is present.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# geo shape: sf0.1 has 150,000 orders, 1,000 suppliers and 25 nations.
# Image captions reference place ``o_orderkey % 50`` and gazetteer rows
# place ``s_suppkey % 50`` (entry_queries.IMAGES_SQL / GAZ_SQL). Images
# are cut to 10,000 so that a fresh JVM, a cold pass and two warm passes
# fit in about a minute on a 4-core host.
GEO_IMAGES = 10_000
GEO_GAZ = 1_000
N_PLACES = 50
HOT_PLACE = 7  # 7 % 10 < 8, so every hot image carries a resolvable caption
HOT_SHARE = 0.10
HOT_TOL = 0.005  # realized hot share is HOT_SHARE ± HOT_TOL

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]

# document corpus shaped like sf0.1's (5,000 documents of 8-100 tokens from
# a small vocabulary; 2,000 64-dim float embeddings with 10 labels), at
# 1,000 documents
N_DOCS = 1_000
N_VECS = 2_000
VEC_DIM = 64
VOCAB = (
    "a the data spark row column table query scan filter join agg group sort "
    "hash merge window stream batch key value line order part customer vector "
    "fast slow big small"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# chain-dedup stress corpus (bench.py's adversarial stress)
CHAIN_N, CHAIN_INDEPENDENT = 3000, 2000
CHAIN_HEADER = "shared corpus header boilerplate phrase"


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = sum(ord(c) * 31**i for i, c in enumerate(workload)) % 2**32
    return np.random.default_rng([seed, salt])


def _write(path: str, df: pd.DataFrame, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _stub(path: str) -> None:
    pq.write_table(pa.table({"stub": pa.array([], pa.int64())}), path)


def _keys_with_share(rng, n: int, key_space: int, hot: int | None,
                     share: float) -> np.ndarray:
    """``n`` distinct keys in [1, key_space]. With ``hot`` set, exactly
    round(share * n) of them are ≡ hot (mod N_PLACES); the rest are
    drawn from the other residues."""
    keys = np.arange(1, key_space + 1, dtype=np.int64)
    if hot is None:
        return rng.choice(keys, n, replace=False)
    is_hot = keys % N_PLACES == hot
    n_hot = int(round(share * n))
    picked = np.concatenate([
        rng.choice(keys[is_hot], n_hot, replace=False),
        rng.choice(keys[~is_hot], n - n_hot, replace=False),
    ])
    rng.shuffle(picked)
    return picked


def _geo_tables(out: str, rng, hot: bool) -> dict:
    hot_pid = HOT_PLACE if hot else None
    okeys = _keys_with_share(rng, GEO_IMAGES, 10 * GEO_IMAGES, hot_pid, HOT_SHARE)
    skeys = _keys_with_share(rng, GEO_GAZ, 10 * GEO_GAZ, hot_pid, HOT_SHARE)
    _write(f"{out}/orders.parquet", pd.DataFrame({"o_orderkey": okeys}))
    _write(f"{out}/supplier.parquet", pd.DataFrame({
        "s_suppkey": skeys,
        "s_name": [f"Supplier#{k:09d}" for k in skeys],
        "s_nationkey": (skeys % 25).astype(np.int32),
    }))
    _write(f"{out}/nation.parquet", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    # images whose caption names a place: o_orderkey % 10 < 8
    named = okeys[okeys % 10 < 8] % N_PLACES
    place_counts = np.bincount(named, minlength=N_PLACES)
    gaz_counts = np.bincount(skeys % N_PLACES, minlength=N_PLACES)
    top = int(place_counts.argmax())
    return {
        "images": GEO_IMAGES,
        "gazetteer_rows": int(GEO_GAZ),
        "admin_polygons": 25,
        "hot_place": top,
        "hot_image_share": round(float(place_counts[top]) / GEO_IMAGES, 6),
        "hot_gazetteer_share": round(float(gaz_counts[top]) / GEO_GAZ, 6),
        "mean_place_image_share": round(float(place_counts.mean()) / GEO_IMAGES, 6),
    }


def _documents(rng, n: int) -> pd.DataFrame:
    """Random-vocabulary documents like sf0.1's, plus planted exact
    copies (1%) and light edits (4%) so the dedup stages have work."""
    lengths = rng.integers(8, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in range(n):
        r = rng.random()
        if i < 50 or r >= 0.05:
            continue
        src = texts[int(rng.integers(0, i))]
        if r < 0.01:
            texts[i] = src
        else:
            toks = src.split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(toks)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    """Unit-scale gaussian vectors; 2% are near-copies of an earlier
    vector so the cosine near-dup join finds planted pairs."""
    vecs = rng.normal(0.0, 0.125, (n, VEC_DIM)).astype(np.float32)
    for i in rng.choice(np.arange(20, n), n // 50, replace=False):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.05, VEC_DIM).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


EMB_DDL = "vec_id long, embedding array<float>, label int"


def corpus(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) for the dedup, similarity, text and
    curation layers."""
    rng = _rng("corpus", seed)
    return _documents(rng, N_DOCS), _embeddings(rng, N_VECS)


def generate(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Write (or reuse) the inputs of ``workload`` for ``seed`` under
    ``root``; returns (dir, meta)."""
    out = os.path.join(root, f"{workload}-{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    os.makedirs(out, exist_ok=True)
    rng = _rng(workload, seed)
    if workload not in ("geo_uniform", "geo_hotcell"):
        raise ValueError(f"unknown workload {workload!r}")
    meta = _geo_tables(out, rng, workload == "geo_hotcell")
    for t in ALL_TABLES:
        if not os.path.exists(f"{out}/{t}.parquet"):
            _stub(f"{out}/{t}.parquet")
    meta = {"workload": workload, "seed": seed, **meta}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return out, meta
