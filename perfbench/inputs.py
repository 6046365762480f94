"""Seeded benchmark inputs: hot-city points, kNN queries and a
near-duplicate documents table.

Every generator is a pure function of ``seed`` and its size
arguments, and every materialized input is fingerprinted from its
content, so two runs can prove they used identical inputs. The engine
only ever sees the parquet files written here.
"""
from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the s2spark.images / bench.synthetic_points hot-city list: a fifth of
# the points land within ±0.1° of one of these
from s2spark.images import _HOT_CITIES

# s2spark.text's stopwords plus 160 content words: large enough that
# unrelated documents almost never share an LSH band, so the near-dup
# graph is the planted clusters
WORDS = ["the", "a", "of", "and", "to", "in", "is", "it"] + [
    f"{w}{i}" for w in ("key agg row scan slow fast table value part hash "
                        "merge batch spark line sort window data column join "
                        "small customer query filter order stream group big "
                        "vector").split()
    for i in range(6)][:160]


def hot_city_points(seed: int, n: int, hot_share: float = 0.2) -> dict:
    """``n`` points: ``1 - hot_share`` uniform over lat [-60, 75] and all
    longitudes, ``hot_share`` uniform in a 0.2° box around a hot city."""
    rng = np.random.default_rng([seed, 1])
    lat = rng.uniform(-60.0, 75.0, n)
    lng = rng.uniform(-180.0, 180.0, n)
    hot = rng.random(n) < hot_share
    k = int(hot.sum())
    city = np.asarray(_HOT_CITIES)[rng.integers(0, len(_HOT_CITIES), k)]
    lat[hot] = city[:, 0] + rng.uniform(-0.1, 0.1, k)
    lng[hot] = city[:, 1] + rng.uniform(-0.1, 0.1, k)
    return {"point_id": np.arange(n, dtype=np.int64), "lat": lat, "lng": lng}


def sample_queries(seed: int, points: dict, q: int) -> dict:
    """``q`` distinct points, re-keyed as (query_id, lat, lng)."""
    rng = np.random.default_rng([seed, 2])
    idx = np.sort(rng.choice(len(points["point_id"]), q, replace=False))
    return {"query_id": points["point_id"][idx], "lat": points["lat"][idx],
            "lng": points["lng"][idx]}


def documents(seed: int, n_base: int, dup_share: float = 0.3) -> dict:
    """``n_base`` random documents over a small vocabulary, plus
    ``dup_share * n_base`` near-duplicates, each a copy of a random
    original with one or two tokens replaced."""
    rng = np.random.default_rng([seed, 3])
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(m))])
             for m in rng.integers(12, 80, n_base)]
    for _ in range(int(n_base * dup_share)):
        toks = texts[int(rng.integers(0, n_base))].split(" ")
        for pos in rng.integers(0, len(toks), int(rng.integers(1, 3))):
            toks[int(pos)] = str(words[rng.integers(0, len(words))])
        texts.append(" ".join(toks))
    n = len(texts)
    order = rng.permutation(n)  # copies must not sit next to their source
    texts = [texts[i] for i in order]
    langs = np.asarray(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 7}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)}


def write_parquet(cols: dict, path: str, n_files: int = 1) -> None:
    """one directory of ``n_files`` parquet files (or a single file when
    ``path`` ends in ``.parquet``)."""
    table = pa.table(cols)
    if path.endswith(".parquet"):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def fingerprint(cols: dict) -> str:
    """content hash of a column dict (names, dtypes and values)."""
    h = hashlib.sha256()
    for name in sorted(cols):
        arr = cols[name]
        h.update(name.encode())
        if isinstance(arr, np.ndarray):
            h.update(arr.dtype.str.encode())
            h.update(np.ascontiguousarray(arr).tobytes())
        else:
            h.update("\x00".join(arr).encode())
    return h.hexdigest()[:16]
