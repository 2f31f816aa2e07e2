"""Dedup + ANN operators: approximate paths verified against exact ones."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.operators import dedup, similarity
from tests.lsh_reference import (
    flat_shingle_hashes_lexsort,
    jaccard_texts_udf,
    minhash64_text_udf,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),  # near-dup of 1
        (3, "completely different content about spark query planning and shuffles"),
        (4, "completely different content about spark query planning and shuffle"),  # near-dup of 3
        (5, "unrelated short text"),
        (6, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_keeps_min_key(docs):
    out = {r["text"]: r["doc_id"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect()}
    assert len(out) == 5
    assert out["the quick brown fox jumps over the lazy dog near the river bank"] == 1


def test_window_dedup_matches_exact(docs):
    w = dedup.window_dedup(docs, "text", "doc_id")
    assert sorted(r["doc_id"] for r in w.collect()) == [1, 2, 3, 4, 5]


def test_minhash_lsh_finds_what_exact_jaccard_finds(docs):
    exact = {
        (r["k1"], r["k2"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    approx = {
        (r["k1"], r["k2"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", verify_threshold=0.8
        ).collect()
    }
    # LSH-then-verify must find every high-Jaccard pair here (64 hashes,
    # 8 bands → near-certain recall at j≥0.8) and no false positives
    # survive the exact verify.
    assert approx == exact
    assert (1, 2) in approx and (3, 4) in approx and (1, 6) in approx


def test_simhash_neardups(docs):
    pairs = {(r["k1"], r["k2"]): r["hamming"] for r in
             dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(1, 6)] == 0  # identical text → identical simhash
    # near-dup pair sits at small hamming (measured 8 for this data);
    # the chunk-bucket candidate step guarantees recall only ≤3 bits, so
    # presence beyond that is best-effort — assert the distance when found
    if (1, 2) in pairs:
        assert pairs[(1, 2)] <= 10
    assert (1, 3) not in pairs and (1, 5) not in pairs  # unrelated ≫ budget


def test_lsh_topk_recall_vs_brute_force(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((500, 16)).astype(np.float32)
    # plant 10 true neighbors of vec 0 (ids 0-9): source + small noise —
    # random gaussians are near-orthogonal, so without planting there ARE
    # no meaningful neighbors for LSH to preserve
    for i in range(1, 10):
        vecs[i] = vecs[0] + rng.standard_normal(16).astype(np.float32) * 0.1
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(500)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[0] + rng.standard_normal(16).astype(np.float32) * 0.05]
    brute = [r["vec_id"] for r in
             similarity.brute_force_topk(df, "embedding", q, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.lsh_topk(df, "embedding", q, k=10).collect()]
    assert set(brute) == set(range(10))  # the planted cluster IS the top-10
    assert approx[0] == brute[0]
    # multiprobe recall on true near-neighbors (cos≈0.98): most recovered
    assert len(set(brute) & set(approx)) >= 6


def test_ivf_topk_recall(spark):
    import numpy as np

    from multi_task_offensive_language_detection_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(17)
    # 4 well-separated gaussian clusters + a planted neighbor set
    centers = rng.standard_normal((4, 16)) * 4
    vecs = np.vstack([centers[i % 4] + rng.standard_normal(16) * 0.3 for i in range(400)]).astype(np.float32)
    for i in range(1, 10):
        vecs[i] = vecs[0] + rng.standard_normal(16).astype(np.float32) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    cent = train_ivf_centroids(df, "embedding", n_centroids=8, sample_rows=400)
    q = [float(x) for x in vecs[0]]
    brute = [r["vec_id"] for r in brute_force_topk(df, "embedding", q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(df, "embedding", q, cent, k=10, n_probe=3).collect()]
    assert approx[0] == brute[0] == 0
    assert len(set(brute) & set(approx)) >= 8  # probed lists hold the cluster


def test_char_shingles_short_texts_yield_empty(spark):
    # sequence(1, 0) in Spark is the DESCENDING [1, 0] — without the
    # length guard every short text would get a whole-text pseudo-shingle
    df = spark.createDataFrame([(1, ""), (2, "ab"), (3, "abc")], "k long, t string")
    out = {
        r["k"]: r["sh"]
        for r in df.select("k", dedup.char_shingles(F.col("t"), 3).alias("sh")).collect()
    }
    assert out[1] == [] and out[2] == []
    assert out[3] == ["abc"]
    # two empty texts must NOT score jaccard 1.0
    pairs = ngram_jaccard_pairs(
        spark.createDataFrame([(1, ""), (2, "")], "doc_id long, text string"),
        "doc_id", "text", threshold=0.5,
    )
    assert pairs.count() == 0


def test_embedding_neardup_refuses_unblocked_at_scale(spark):
    """There is no unblocked form: ``block_col`` is required, so an
    O(n²) self-join cannot be asked for. Blocked, the pairs come only
    from inside a block."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(TypeError, match="block_col"):
        dedup.embedding_neardup_pairs(df, "vec_id", "embedding")
    blocked = dedup.embedding_neardup_pairs(
        df.withColumn("blk", F.pmod("vec_id", F.lit(2))),
        "vec_id", "embedding", threshold=0.99, block_col="blk",
    ).collect()
    assert blocked and all((r["k2"] - r["k1"]) % 2 == 0 for r in blocked)


def test_lsh_short_texts_excluded_and_buckets_capped(spark, docs):
    # degenerate corpus: 2k identical texts + 400 shingle-less shorts.
    # Without the guards this is O(k²) candidate pairs (the 100 TB failure
    # mode); with them the candidate stage must collapse to zero pairs.
    rows = [(100 + i, "boilerplate header exactly the same in every single row") for i in range(2000)]
    rows += [(50_000 + i, "") for i in range(200)]
    rows += [(60_000 + i, "ab") for i in range(200)]
    big = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(big, "doc_id", "text", max_bucket_size=100).count() == 0
    stats = dedup.minhash_lsh_bucket_stats(
        big, "doc_id", "text", max_bucket_size=100
    ).collect()[0]
    assert stats["dropped_buckets"] >= 1
    assert stats["largest_bucket"] == 2000
    assert stats["short_text_rows"] == 400
    # ...and the cap must not change results on normal (non-degenerate)
    # data: no bucket can exceed a cap of the row count
    capped = {
        (r["k1"], r["k2"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.8).collect()
    }
    no_bucket_over_cap = {
        (r["k1"], r["k2"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", verify_threshold=0.8, max_bucket_size=docs.count()
        ).collect()
    }
    assert capped == no_bucket_over_cap


def test_simhash_multiindex_pigeonhole_equivalence(spark):
    # recall for hamming <= h is EXACT at any num_chunks > h, so the pair
    # set must be invariant across m — only candidate volume may differ
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base_toks = words * 3
    rows = [(0, " ".join(base_toks)), (100, " ".join(base_toks))]  # exact dup
    for i in range(1, 30):
        toks = list(base_toks)
        toks[(i * 3) % len(toks)] = words[(i * 7) % 10] + ("x" if i % 3 == 0 else "q")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {
        m: {
            (r["k1"], r["k2"], r["hamming"])
            for r in dedup.simhash_pairs(
                df, "doc_id", "text", max_hamming=3, num_chunks=m
            ).collect()
        }
        for m in (4, 6, 8)
    }
    assert res[4] == res[6] == res[8]
    assert (0, 100, 0) in res[4]  # the exact dup is always found


def test_simhash_bucket_cap_bounds_degenerate_corpora(spark):
    rows = [(i, "identical boilerplate text repeated everywhere") for i in range(1500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.simhash_pairs(df, "doc_id", "text", max_bucket_size=100).count() == 0


def test_incremental_lsh_index_matches_monolithic(docs, spark, tmp_path):
    """lsh_index_write + lsh_index_query over (old corpus, new batch)
    must emit exactly the new↔old pairs a monolithic minhash_lsh_pairs
    over the union emits — same banding, same cap decision, same
    verify. Also: the index is additive (two appends == one write)."""
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog near the river bend"),
            (103, "completely different content about spark query planning and shuffling"),
            (105, "entirely novel text that matches nothing in the corpus at all"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lsh_idx")
    dedup.lsh_index_write(docs, "doc_id", "text", idx)
    inc = {
        (r["k_new"], r["k_old"]): r["jaccard"]
        for r in dedup.lsh_index_query(new, "doc_id", "text", idx).collect()
    }
    mono = {
        (max(r["k1"], r["k2"]), min(r["k1"], r["k2"])): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs.unionByName(new), "doc_id", "text"
        ).collect()
        # restrict to new(>100) ↔ old(<100) pairs
        if (r["k1"] > 100) != (r["k2"] > 100)
    }
    assert inc == mono
    assert (101, 1) in inc and (103, 3) in inc  # the planted near-dups
    assert not any(k_new == 105 for k_new, _ in inc)

    # additivity: building the index in two appends changes nothing
    idx2 = str(tmp_path / "lsh_idx2")
    old1 = docs.filter(F.col("doc_id") <= 3)
    old2 = docs.filter(F.col("doc_id") > 3)
    dedup.lsh_index_write(old1, "doc_id", "text", idx2)
    dedup.lsh_index_write(old2, "doc_id", "text", idx2, mode="append")
    inc2 = {
        (r["k_new"], r["k_old"]): r["jaccard"]
        for r in dedup.lsh_index_query(new, "doc_id", "text", idx2).collect()
    }
    assert inc2 == inc


def test_incremental_lsh_cap_counts_index_plus_batch(spark, tmp_path):
    """The bucket cap must consider index + batch rows TOGETHER: a
    bucket that is fine in the index alone but oversized once the batch
    lands produces no pairs (same decision the monolithic run makes)."""
    old = spark.createDataFrame(
        [(i, "identical degenerate boilerplate text body") for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, "identical degenerate boilerplate text body") for i in range(6)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "cap_idx")
    dedup.lsh_index_write(old, "doc_id", "text", idx)
    # cap 10: 6 in-index + 6 in-batch = 12 > 10 -> dropped everywhere
    assert (
        dedup.lsh_index_query(new, "doc_id", "text", idx, max_bucket_size=10).count()
        == 0
    )
    # cap 20 admits the bucket; every cross pair is an exact dup
    got = dedup.lsh_index_query(new, "doc_id", "text", idx, max_bucket_size=20)
    assert got.count() == 36 and got.filter(F.col("jaccard") < 1.0).count() == 0


def test_substring_dup_spans_finds_shared_boilerplate(spark):
    """Two docs share a long license header and one short phrase; spans
    must cover exactly the shared-k-gram regions, merged maximally."""
    header = "this content is distributed under the creative commons license"
    a = header + " alpha body text entirely unique to document one here"
    b = header + " beta completely different tail for the second document"
    c = "unrelated document with no shared passages of any kind at all"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_len"])
        for r in dedup.substring_dup_spans(df, "doc_id", "text", k=20).collect()
    }
    # both continuations begin with ' ', so the true shared prefix is
    # header + that space — the span must be exactly that, nothing more
    assert spans[1] == (1, len(header) + 1)
    assert spans[2] == (1, len(header) + 1)
    assert 3 not in spans


def test_substring_dup_spans_winnowing_is_offset_robust(spark):
    """Winnowing selects fingerprints by CONTENT, so the same passage
    at DIFFERENT offsets in two docs still collides (a fixed-stride
    grid would sample disjoint grams — the reason winnowing exists).
    Span boundaries resolve to ±w."""
    shared = "the quick brown fox jumps over the lazy dog by the river bank"
    df = spark.createDataFrame(
        [(1, "A" * 31 + shared), (2, shared + "B" * 30)],  # offsets 32 vs 1
        "doc_id long, text string",
    )
    w = 4
    got = dedup.substring_dup_spans(df, "doc_id", "text", k=20, winnow_w=w)
    spans = {r["doc_id"]: (r["span_start"], r["span_len"]) for r in got.collect()}
    assert 1 in spans and 2 in spans
    s1, l1 = spans[1]
    s2, l2 = spans[2]
    # doc1's copy starts at 32, doc2's at 1 — each detected within ±w
    assert abs(s1 - 32) <= w and abs(s2 - 1) <= w
    assert l1 >= len(shared) - 2 * w and l2 >= len(shared) - 2 * w


def _brute_spans(texts: dict[int, str], k: int, min_docs: int = 2):
    """Reference implementation: exact-mode substring_dup_spans in plain
    Python — gram sets by string, positions, adjacent-merge."""
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for d, t in texts.items():
        for p in range(len(t) - k + 1):
            gram_docs[t[p : p + k]].add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    spans = {}
    for d, t in texts.items():
        pos = [p + 1 for p in range(len(t) - k + 1) if t[p : p + k] in dup]
        out = []
        for p in pos:
            if out and p - out[-1][1] <= 1:
                out[-1] = (out[-1][0], p)
            else:
                out.append((p, p))
        spans[d] = {(s, e + k - 1 - s + 1) for s, e in out}
    return {d: s for d, s in spans.items() if s}


def test_substring_spans_property_vs_brute_force(spark):
    """Randomized cross-check of the exact path against a brute-force
    Python reference: same spans for corpora built from a tiny alphabet
    (maximizing accidental shared grams, the hard case for merging)."""
    import random

    rng = random.Random(421)
    k = 6
    for trial in range(4):
        texts = {
            i: "".join(rng.choice("abc ") for _ in range(rng.randint(10, 60)))
            for i in range(1, 6)
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {}
        for r in dedup.substring_dup_spans(df, "doc_id", "text", k=k).collect():
            got.setdefault(r["doc_id"], set()).add((r["span_start"], r["span_len"]))
        assert got == _brute_spans(texts, k), (trial, texts)


def test_decontaminate_removes_ngram_overlap(spark):
    """Benchmark decontamination: any shared token 13-gram (here n=4 for
    a compact fixture) disqualifies the training row; short texts
    (< n tokens) can never be contaminated; key and schema survive."""
    from multi_task_offensive_language_detection_spark.operators.dedup import (
        decontaminate,
        token_ngram_hashes,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated content about spark plans"),
            (3, "QUICK Brown FOX jumps far away"),  # case/punct-insensitive hit
            (4, "tiny text"),  # < n tokens: never contaminated
            (5, "the quick brown foxtrot jumps over"),  # no shared 4-gram
        ],
        "doc_id int, text string",
    )
    ref = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps high")],
        "rid int, text string",
    )
    out = decontaminate(train, ref, "text", "doc_id", n=4)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4, 5]
    assert out.columns == train.columns
    # short-text guard: empty gram array, not a whole-text pseudo-gram
    g = spark.createDataFrame([("a b c",)], "t string").select(
        token_ngram_hashes(F.col("t"), 4).alias("g")
    ).collect()[0]["g"]
    assert g == []
    # non-broadcast path agrees
    out2 = decontaminate(train, ref, "text", "doc_id", n=4, broadcast_ref=False)
    assert sorted(r["doc_id"] for r in out2.collect()) == [2, 4, 5]


def test_decontaminate_null_text_survives(spark):
    """NULL transcript → NULL gram array → explode emits nothing → the
    row can never be contaminated (consistent with the engine's
    NULL≡'' convention: empty text holds no n-gram)."""
    from multi_task_offensive_language_detection_spark.operators.dedup import (
        decontaminate,
    )

    train = spark.createDataFrame(
        [(1, None), (2, "shared four gram phrase here")],
        "doc_id int, text string",
    )
    ref = spark.createDataFrame([(9, "shared four gram phrase")], "rid int, text string")
    out = decontaminate(train, ref, "text", "doc_id", n=4)
    assert [r["doc_id"] for r in out.collect()] == [1]


@pytest.fixture(scope="module")
def kernel_texts(spark):
    """Texts for the kernel pins: a near-dup, a one-shingle multiset, a
    text shorter than n=5 (empty shingle set) and an exact dup."""
    texts = [
        "the people said they would go to the house",
        "the people said they would go to the houses",
        "completely different content over here today",
        "aaaaaaaaaaaaaaa",
        "tiny",
        "the people said they would go to the house",
    ]
    return spark.createDataFrame(list(enumerate(texts)), "k long, t string")


def test_band_hashes_match_jvm_banding(kernel_texts):
    """The Arrow kernel's (k, band, bh) rows equal the JVM banding
    expression xxhash64(sig[b*8], ..., sig[b*8+7]) applied to the
    independent raw-stream signature kernel. This pins the signature
    (min over a multiset == min over its distinct values, so the
    kernel's shingle dedup must not change it) and the numpy XXH64 chain
    at once: the bucket space, and therefore the candidate pair set, is
    bit-frozen."""
    ref = (
        kernel_texts.filter(F.length("t") >= 5)
        .withColumn("sig", minhash64_text_udf(5)(F.col("t")))
        .select(
            "k",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(*[F.col("sig")[b * 8 + r] for r in range(8)])
                        for b in range(8)
                    ]
                )
            ).alias("band", "bh"),
        )
    )
    prod = dedup._lsh_banded_bhs(dedup._lsh_base(kernel_texts, "k", "t", 5))
    assert ref.exceptAll(prod).count() == 0
    assert prod.exceptAll(ref).count() == 0
    assert ref.count() == prod.count() == 5 * 8  # 5 length-eligible texts x 8 bands


def test_features_udf_matches_reference_kernels(kernel_texts):
    """sh_jaccard over the band kernel's precomputed sh arrays equals the
    independent numpy re-shingle kernel jaccard_texts_udf for every
    pair — same doubles, since both divide the same exact integers."""
    sh = dedup.minhash64_band_features_udf(5)(F.col("t")).getField("sh")
    feat = kernel_texts.select("k", "t", sh.alias("sh"))
    a, b = feat.alias("a"), feat.alias("b")
    pairs = a.join(b, F.col("a.k") < F.col("b.k")).select(
        F.col("a.k").alias("k1"),
        F.col("b.k").alias("k2"),
        F.col("a.sh").alias("sh1"),
        F.col("b.sh").alias("sh2"),
        jaccard_texts_udf(5)(F.col("a.t"), F.col("b.t")).alias("j_txt"),
    )
    rows = dedup.sh_jaccard(pairs, "sh1", "sh2").withColumnRenamed("jaccard", "j_arr").collect()
    assert len(rows) == 15
    for r in rows:
        assert r["j_arr"] == r["j_txt"], (r["k1"], r["k2"], r["j_arr"], r["j_txt"])
    # the planted near-dup really is near (sanity that the pin has teeth)
    near = {(r["k1"], r["k2"]): r["j_arr"] for r in rows}
    assert near[(0, 1)] > 0.8 and near[(0, 5)] == 1.0


def _assert_same_flat_shingles(texts: list, n: int) -> None:
    got = dedup._flat_shingle_hashes(pd.Series(texts, dtype=object), n)
    ref = flat_shingle_hashes_lexsort(pd.Series(texts, dtype=object), n)
    assert got[2] == ref[2] == len(texts)
    for g, r in zip(got[:2], ref[:2]):
        assert g.dtype == r.dtype and np.array_equal(g, r)


@pytest.mark.parametrize("n", [1, 3, 5])
def test_flat_shingle_dedup_matches_lexsort_reference(n):
    """The per-row padded-sort dedup returns the same (hashes, rows,
    nrows) arrays as one global lexsort of the (row, hash) stream, over
    NULL, empty, shorter-than-n, repeated-shingle, NUL-containing and
    non-BMP texts at both ends of a batch, and in an all-odd batch."""
    rng = np.random.default_rng(n)
    odd = [None, "", "ab", "aaaaaaaaaaaa", "a\x00b\x00cdef\x00", "😀😀😀😀x😀😀🙂", "\x00" * 9]
    texts = odd + [
        "".join(rng.choice(list("ab c😀"), rng.integers(0, 90))) for _ in range(500)
    ] + odd
    _assert_same_flat_shingles(texts, n)
    _assert_same_flat_shingles([None, "", "ab"], n)


def test_flat_shingle_dedup_bounded_on_huge_row():
    """One ~1 MB text in a 10k-row batch: the dedup still matches the
    lexsort reference, and its padding stays bounded. A pad to the
    longest row would need ~10k x 2^20 slots (~80 GB); the count-class
    pad keeps the peak Python-tracked allocation (the rolling hash itself
    peaks near 3.7x) within a small multiple of the raw shingle stream."""
    import tracemalloc

    from multi_task_offensive_language_detection_spark.functions.hashing import (
        char_ngram_hashes_flat,
    )

    rng = np.random.default_rng(7)
    words = np.array("the people said they would go to the house by the river".split())
    texts = [" ".join(rng.choice(words, rng.integers(0, 40))) for _ in range(9_999)]
    texts.insert(4_321, " ".join(rng.choice(words, 200_000))[:1_000_000])
    h, rows = char_ngram_hashes_flat(texts, 5)
    stream_bytes = h.nbytes + rows.nbytes
    del h, rows
    series = pd.Series(texts)
    tracemalloc.start()
    try:
        got = dedup._flat_shingle_hashes(series, 5)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 5 * stream_bytes, (peak, stream_bytes)
    ref = flat_shingle_hashes_lexsort(series, 5)
    assert got[2] == ref[2] == 10_000
    assert np.array_equal(got[0], ref[0]) and np.array_equal(got[1], ref[1])


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_lsh_cache_swaps_not_stacks(spark, docs):
    """Repeated minhash_lsh_pairs runs leave no persisted frame behind:
    the features reach every consumer through one reused keyed exchange,
    not a cache, so the persistent-RDD count is unchanged after three
    consecutive runs."""
    spark.catalog.clearCache()
    before = _n_persistent_rdds(spark)
    for _ in range(3):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.8).write.mode(
            "overwrite"
        ).format("noop").save()
    assert _n_persistent_rdds(spark) == before


def test_lsh_index_write_releases_cache_on_failed_write(spark, docs, tmp_path):
    """lsh_index_write persists its features only for the length of the
    call, also when a write fails: a second mode="error" write to the
    same path raises and leaves the persistent-RDD count unchanged."""
    from pyspark.errors import AnalysisException

    idx = str(tmp_path / "idx")
    dedup.lsh_index_write(docs, "doc_id", "text", idx)
    before = _n_persistent_rdds(spark)
    with pytest.raises(AnalysisException, match="already exists"):
        dedup.lsh_index_write(docs, "doc_id", "text", idx, mode="error")
    assert _n_persistent_rdds(spark) == before


def test_lsh_null_keys_do_not_count_toward_bucket_cap(spark, tmp_path):
    """A NULL key can never form a pair (k1 < k2 is NULL), so it leaves
    the LSH and SimHash paths before bucketing and cannot cost real
    pairs their recall through the bucket cap: three identical texts
    keyed 1, 2 and NULL under max_bucket_size=2 give the pair (1, 2) and
    no dropped bucket, and the incremental index and simhash_pairs apply
    the same rule."""
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, text), (2, text), (None, text)], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=2)
    assert {(r["k1"], r["k2"]) for r in pairs.collect()} == {(1, 2)}
    stats = dedup.minhash_lsh_bucket_stats(
        df, "doc_id", "text", max_bucket_size=2
    ).collect()[0]
    assert stats["dropped_buckets"] == 0
    idx = str(tmp_path / "idx")
    dedup.lsh_index_write(df.filter("doc_id IS NULL OR doc_id = 1"), "doc_id", "text", idx)
    got = dedup.lsh_index_query(
        df.filter("doc_id = 2"), "doc_id", "text", idx, max_bucket_size=2
    )
    assert {(r["k_new"], r["k_old"]) for r in got.collect()} == {(2, 1)}
    sim = dedup.simhash_pairs(df, "doc_id", "text", max_bucket_size=2)
    assert {(r["k1"], r["k2"]) for r in sim.collect()} == {(1, 2)}


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, counted under a fresh job
    group (a group's job list accumulates across uses)."""
    sc = spark.sparkContext
    group = f"lsh-laziness-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_features_udf_all_short_batch(spark):
    """Every text shorter than n (or empty/null) in one Arrow batch: the
    kernel's zero-shingle early return must still report the ROW COUNT in
    the nrows slot — pre-fix it returned the empty row-id ndarray there
    and np.full((nrows, 64), ...) raised TypeError on any such batch
    (latent via the public kernel; _lsh_base length-filters first). Each
    row gets an empty sh and 8 copies of the all-sentinel band hash."""
    df = spark.createDataFrame(
        [(0, "tiny"), (1, ""), (2, None), (3, "abc")], "k long, t string"
    )
    rows = (
        df.withColumn("f", dedup.minhash64_band_features_udf(5)(F.col("t")))
        .select("k", F.col("f.bhs").alias("bhs"), F.col("f.sh").alias("sh"))
        .orderBy("k")
        .collect()
    )
    assert len(rows) == 4
    sentinel = np.iinfo(np.int64).max
    sentinel_bh = spark.range(1).select(
        F.xxhash64(*[F.lit(sentinel)] * 8).alias("h")
    ).first()["h"]
    for r in rows:
        assert r["sh"] == []
        assert r["bhs"] == [sentinel_bh] * 8


def test_xxhash64_longs_matches_spark(spark):
    """The numpy XXH64 chain is bit-equal to Catalyst's xxhash64 over
    long columns (the property the banding move rests on)."""
    from multi_task_offensive_language_detection_spark.functions.hashing import (
        xxhash64_longs,
    )

    rng = np.random.default_rng(11)
    a = rng.integers(-(2**63), 2**63, 500, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63, 500, dtype=np.int64)
    pdf = pd.DataFrame({"i": np.arange(500), "a": a, "b": b})
    rows = (
        spark.createDataFrame(pdf)
        .repartition(1)
        .select("i", F.xxhash64("a", "b").alias("h"), F.xxhash64("a").alias("h1"))
        .collect()
    )
    got2 = np.empty(500, dtype=np.int64)
    got1 = np.empty(500, dtype=np.int64)
    for r in rows:
        got2[r["i"]] = r["h"]
        got1[r["i"]] = r["h1"]
    exp2 = xxhash64_longs([a.view(np.uint64), b.view(np.uint64)]).view(np.int64)
    exp1 = xxhash64_longs([a.view(np.uint64)]).view(np.int64)
    assert (got2 == exp2).all() and (got1 == exp1).all()


def test_lsh_operators_are_lazy(spark, docs, tmp_path):
    """Calling the LSH pair operators builds a plan and runs nothing:
    minhash_lsh_pairs starts no Spark job, and lsh_index_query starts
    only the schema reads of the index's three parquet outputs — the
    same jobs as reading them directly."""
    idx = str(tmp_path / "idx")
    dedup.lsh_index_write(docs, "doc_id", "text", idx)
    assert _jobs_started(spark, lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text")) == 0
    reads = _jobs_started(
        spark,
        lambda: [spark.read.parquet(f"{idx}/{p}") for p in ("banded", "bucket_counts", "texts")],
    )
    assert reads > 0
    assert _jobs_started(spark, lambda: dedup.lsh_index_query(docs, "doc_id", "text", idx)) == reads


_LSH_OPS = {
    "pairs": lambda df, path, **kw: dedup.minhash_lsh_pairs(df, "doc_id", "text", **kw),
    "stats": lambda df, path, **kw: dedup.minhash_lsh_bucket_stats(df, "doc_id", "text", **kw),
    "index_write": lambda df, path, **kw: dedup.lsh_index_write(df, "doc_id", "text", path, **kw),
    "index_query": lambda df, path, **kw: dedup.lsh_index_query(df, "doc_id", "text", path, **kw),
}


@pytest.mark.parametrize(
    "op, kwargs, match",
    [
        (op, {"n": n}, "shingle size")
        for op in _LSH_OPS
        for n in (0, -1)
    ]
    + [
        (op, {"verify_threshold": t}, "verify_threshold")
        for op in ("pairs", "index_query")
        for t in (0.0, -0.1, 1.5)
    ]
    + [
        (op, {"max_bucket_size": m}, "max_bucket_size")
        for op in ("pairs", "stats", "index_query")
        for m in (1, 0)
    ]
    + [
        (op, {"max_bucket_size": None}, "max_bucket_size")
        for op in ("pairs", "stats", "index_query")
    ],
)
def test_lsh_api_rejects_bad_parameters(docs, tmp_path, op, kwargs, match):
    """The public LSH operators refuse parameters that cannot give a
    meaningful pair set (no shingles, an unreachable or vacuous verify
    threshold, a cap that drops every bucket holding a pair or no cap
    at all) up front, before any Spark job runs or any index file is
    written."""
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match=match):
        _LSH_OPS[op](docs, path, **kwargs)
    assert not os.path.exists(path)


def _vectors(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8])], "vec_id long, embedding array<float>"
    )


_NEARDUP_OPS = {
    "simhash": lambda spark, df, **kw: dedup.simhash_pairs(df, "doc_id", "text", **kw),
    "embedding": lambda spark, df, **kw: dedup.embedding_neardup_pairs(
        _vectors(spark), "vec_id", "embedding", block_col="vec_id", **kw
    ),
}


_NEARDUP_CASES = [
    ("simhash", {"max_hamming": -1}, "max_hamming"),
    ("simhash", {"max_hamming": -1, "num_chunks": 4}, "max_hamming"),
    ("simhash", {"max_hamming": 0, "num_chunks": 65}, "num_chunks"),
    ("simhash", {"max_bucket_size": 1}, "max_bucket_size"),
    ("simhash", {"max_bucket_size": 0}, "max_bucket_size"),
    ("embedding", {"threshold": 1.5}, "cosine"),
    ("embedding", {"threshold": -1.01}, "cosine"),
    ("simhash", {"max_bucket_size": None}, "max_bucket_size"),
]


# Case ids start at 5 and never renumber: 0-4 are retired, so every
# remaining case keeps the id its results are tracked under.
@pytest.mark.parametrize(
    "op, kwargs, match",
    _NEARDUP_CASES,
    ids=[f"{op}-kwargs{i}-{m}" for i, (op, _, m) in enumerate(_NEARDUP_CASES, start=5)],
)
def test_neardup_api_rejects_bad_parameters(spark, docs, op, kwargs, match):
    """The SimHash and embedding near-dup operators refuse parameters
    that cannot give a meaningful pair set (an unreachable cosine
    threshold, a SimHash split the pigeonhole bound cannot hold for, a
    cap that drops every bucket holding a pair or no cap at all) up
    front, before any Spark job runs."""

    def call():
        with pytest.raises(ValueError, match=match):
            _NEARDUP_OPS[op](spark, docs, **kwargs)

    assert _jobs_started(spark, call) == 0
