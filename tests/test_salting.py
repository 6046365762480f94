"""Hot-key salting in ``text.salted_self_join``, the one self-join the
near-dup pair generators share: for each key shape (shingle, pigeonhole
band, LSH embedding bucket) a hot key's rows must land on more than one
salt, and the output must equal the brute-force self-join."""

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from s2spark import text as T


def _bands_df(spark, sigs, n_bands=4, bits=16):
    """(id, sig, band, band_key) rows for 16-bit signatures."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    rows = []
    for i, s in enumerate(sigs):
        for b in range(n_bands):
            rows.append((i, s, b, (s >> (b * band_bits)) & mask))
    return spark.createDataFrame(
        rows, "id long, sig long, band int, band_key long")


def _brute_hamming(sigs, max_hamming):
    out = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(sigs), 2):
        h = bin(a ^ b).count("1")
        if h <= max_hamming:
            out.add((i, j, h))
    return out


# 40 near-identical signatures (identical band 0) -> one hot band_key;
# plus a spread tail. max_hamming=3 over 16-bit sigs.
HOT_BAND_SIGS = [0x00F0 | (k << 8) for k in range(40)]
HOT_BAND_SIGS += [0x1111 * k % 0xFFFF for k in range(3, 23)]


def _ngram(spark):
    # NGRAM_SALT_TARGET + 36 docs share one hot shingle, two a cold one
    m = T.NGRAM_SALT_TARGET + 36
    rows = [(i, "hot shingle key") for i in range(m)]
    rows += [(1000, "cold pair text"), (1001, "cold pair text"),
             (1001, "only one doc")]
    return (spark.createDataFrame(rows, "doc_id long, sh string"),
            ["sh"], "doc_id", T.NGRAM_SALT_TARGET)


def _band(spark):
    rows = [(i, 0, 7) for i in range(30)]                 # hot (0, 7)
    rows += [(i, 1, i % 5) for i in range(30)]            # 5 cold keys
    return (spark.createDataFrame(rows, "id long, band int, band_key long"),
            ["band", "band_key"], "id", 8)


def _embedding(spark):
    rows = [(i, 0, [float(i), 1.0]) for i in range(12)]   # hot bucket
    rows += [(100 + i, 1, [1.0, float(i)]) for i in range(3)]
    return (spark.createDataFrame(
                rows, "vec_id long, bucket int, embedding array<float>"),
            ["bucket"], "vec_id", 5)


def _band_hamming(spark):
    return _bands_df(spark, HOT_BAND_SIGS), ["band", "band_key"], "id", 8


SHAPES = {"ngram": _ngram, "band": _band, "embedding": _embedding,
          "band_hamming": _band_hamming}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_salted_self_join(spark, monkeypatch, shape):
    df, keys, id_col, target = SHAPES[shape](spark)
    rows = [(r[id_col], tuple(r[k] for k in keys)) for r in df.collect()]
    sizes = Counter(key for _, key in rows)
    hot = {key for key, n in sizes.items() if n > target}
    assert hot, "fixture should contain an oversized key"

    joined = T.salted_self_join(df, keys, id_col, target)
    key_cols = [F.col(f"a.{k}") for k in keys]
    got = joined.select(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"),
                        *key_cols, F.col("a.salt")).collect()

    # the hot key's rows land on more than one salt value
    salts = {}
    for r in got:
        salts.setdefault(tuple(r[2:-1]), set()).add(r[-1])
    for key in hot:
        assert len(salts[key]) > 1, (key, salts[key])

    # each pair meets exactly once per shared key: the brute self-join
    brute = sorted((i, j, *ki) for (i, ki), (j, kj)
                   in itertools.product(rows, rows) if ki == kj and i < j)
    assert sorted(tuple(r[:-1]) for r in got) == brute

    if shape == "band_hamming":
        # the caller's output does not depend on whether the guard fires
        monkeypatch.setattr(T, "BAND_SALT_TARGET", target)
        salted = sorted(map(tuple, T.banded_hamming_pairs(df, 3).collect()))
        monkeypatch.setattr(T, "BAND_SALT_TARGET", 10**9)
        unsalted = sorted(map(tuple, T.banded_hamming_pairs(df, 3).collect()))
        assert salted == unsalted == sorted(_brute_hamming(HOT_BAND_SIGS, 3))


def test_simhash_pairs_through_salted_join(spark, sf_dir, monkeypatch):
    """simhash_pairs routes through banded_hamming_pairs; with the salt
    forced on, its output must still match the brute-force all-pairs
    filter."""
    sig = T.simhash(spark, sf_dir).limit(150).cache()
    rows = [(r.doc_id, r.simhash) for r in sig.collect()]
    expect = set()
    for (d1, s1), (d2, s2) in itertools.combinations(sorted(rows), 2):
        h = bin(s1 ^ s2).count("1")
        if h <= T.SIMHASH_HAMMING_MAX:
            expect.add((d1, d2, h))
    n_bands = T.SIMHASH_HAMMING_MAX + 1
    band_bits = T.SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    parts = [sig.select(F.col("doc_id").alias("id"),
                        F.col("simhash").alias("sig"),
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask)).alias("band_key"))
             for i in range(n_bands)]
    bands = parts[0]
    for p in parts[1:]:
        bands = bands.unionAll(p)
    monkeypatch.setattr(T, "BAND_SALT_TARGET", 4)
    got = set(map(tuple, T.banded_hamming_pairs(
        bands, T.SIMHASH_HAMMING_MAX).collect()))
    assert got == expect
    sig.unpersist()
