"""Unit tests for text curation ops whose positive paths the synthetic
documents table can't exercise (it contains no PII-shaped strings)."""

from pyspark.sql import functions as F

from s2spark import text as T


def test_pii_scan_positive_cases(spark, tmp_path):
    rows = [
        (1, "mail me at a.b+c@x-y.org or z@q.io thanks"),
        (2, "no pii here at all"),
        (3, "see http://a.io and https://b.co/x?z=1 now"),
        (4, "call 555-123-4567 or 555 999 0000 today"),
        (5, "mixed bob@corp.com visits https://c.dev 555-000-1111"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: (r["n_emails"], r["n_urls"], r["n_phones"],
                         r["keep"])
           for r in T.pii_scan(spark, sf).collect()}
    assert out[1] == (2, 0, 0, False)
    assert out[2] == (0, 0, 0, True)
    assert out[3] == (0, 2, 0, False)
    assert out[4] == (0, 0, 2, False)
    assert out[5] == (1, 1, 1, False)


def test_stratified_sample_rates(spark, sf_dir):
    """kept fraction per stratum lands near its configured pct (the
    hash is uniform), and the kept set is reproducible."""
    a = sorted(map(tuple, T.stratified_sample(spark, sf_dir).collect()))
    b = sorted(map(tuple, T.stratified_sample(spark, sf_dir).collect()))
    assert a == b and a
    totals = {r["pred_lang"]: r["n"]
              for r in T.lang_id(spark, sf_dir)
              .groupBy("pred_lang").agg(F.count("*").alias("n"))
              .collect()}
    from collections import Counter
    kept = Counter(lang for _, lang in a)
    for lang, n_kept in kept.items():
        frac = n_kept / totals[lang]
        pct = T.SAMPLE_PCT[lang] / 100.0
        assert abs(frac - pct) < 0.25  # small-sample tolerance


def test_lang_id_consumers_compile_without_fallback(spark, sf_dir):
    """a filter on ``pred_lang`` is pushed through lang_id's projection
    in both consumers; its argmax must keep the generated aggregate
    under the 64 KB method limit, so they run with the interpreted
    fallback off (a nested when(col > best) argmax raised here)."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert T.stratified_sample(spark, sf_dir).collect()
        assert T.corpus_curation(spark, sf_dir).collect()
    finally:
        spark.conf.set(key, old)


def test_ngram_jaccard_hot_shingle_salted(spark):
    """hot-shingle guard (VERDICT r2 item 6): a shingle shared by m >
    NGRAM_SALT_TARGET docs must still yield each pair exactly once
    (salting must not duplicate or drop matches). That the hot key
    fans out is pinned by tests/test_salting.py."""
    m = T.NGRAM_SALT_TARGET + 36   # 100 docs share one hot shingle
    rows = [(i, "hot shingle key") for i in range(m)]
    # plus two docs sharing a cold shingle only
    rows += [(1000, "cold pair text"), (1001, "cold pair text")]
    sh = spark.createDataFrame(rows, "doc_id long, sh string")
    out = T._ngram_jaccard_pairs(sh)
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in out.collect()}
    # every hot pair present exactly once with jaccard 1.0 (identical
    # single-shingle sets), plus the one cold pair
    assert len(pairs) == m * (m - 1) // 2 + 1
    assert all(j == 1.0 for j in pairs.values())
    assert (1000, 1001) in pairs


def test_components_pointer_doubling_long_chain(spark):
    """a 200-node dup chain (diameter 199) must converge well inside
    O(log d) rounds via pointer doubling — 10 rounds >> log2(199)≈7.6
    — where plain min-label propagation would need ~199."""
    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "d1 long, d2 long")
    out = T._components(docs, pairs, max_iters=10)
    assert all(r["canonical_id"] == 0 for r in out.collect())


def test_components_nonconvergence_raises(spark):
    import pytest
    n = 40
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "d1 long, d2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        T._components(docs, pairs, max_iters=2)
