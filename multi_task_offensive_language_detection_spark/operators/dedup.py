"""Deduplication suite for large-scale training-data curation.

All variants are Spark-native except for two vectorized pandas UDFs:
MinHash's features pass and SimHash's bit-packing:

- exact:        hash-groupBy keep-min-key (deterministic, unlike
                dropDuplicates' arbitrary row pick)
- window:       row_number over xxhash64(text) — the W1 scale form
- n-gram Jaccard: char-shingle arrays + array_intersect/union — exact
                near-dup scoring for candidate pairs
- MinHash+LSH:  one Arrow pass per document (vectorized numpy) turns
                its char n-shingles into 64 minhashes, hashes them into
                8 band buckets (Spark-exact XXH64) and emits the distinct
                shingle hashes → banded bucket grouping → candidate
                pairs → exact-Jaccard verify as JVM set ops, one
                array_intersect per candidate pair (sh_jaccard keeps the
                threshold filter out of the verify join's condition,
                where Catalyst would evaluate the intersection twice per
                candidate and once more per survivor). The features go
                through one keyed exchange that every consumer reuses,
                so the Arrow pass runs once per query with nothing
                cached and no Spark job run before an action.
                Shuffle cost: one explode + one groupBy on (band, hash);
                shingle-less texts are excluded and degenerate buckets
                capped (with stats accounting), so candidate volume is
                bounded by max_bucket_size — no O(n²) anywhere, which is
                what makes it 100 TB-safe.
- SimHash:      64-bit token-hash majority vote (pandas UDF), hamming
                buckets on (m−h)-chunk combination keys (multi-index
                pigeonhole — bucket space tunable via num_chunks) with
                the same bucket cap.

Both require the cap: _capped_buckets_one_exchange alone drops over-cap
buckets and collects each remaining bucket's members, over one exchange.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- exact -------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Keep the min-key row per exact text value. One hash-agg shuffle;
    map-side partial aggregation applies."""
    return df.groupBy(text_col).agg(F.min(key_col).alias(key_col))


def window_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """W1 — row_number over hash(text): keeps whole rows (not just keys).
    Partitioning by the 64-bit hash instead of raw text keeps shuffle keys
    small when texts are long."""
    from pyspark.sql import Window as W

    w = W.partitionBy(F.xxhash64(F.col(text_col))).orderBy(key_col)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


# --- n-gram shingles (native) -----------------------------------------------


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct char n-grams of a string as array<string> (native HOF).

    Texts shorter than ``n`` yield an EMPTY array — the explicit guard
    matters because ``sequence(1, 0)`` in Spark is the descending
    ``[1, 0]``, not empty, which would silently give every short text the
    whole-text pseudo-shingle (and any two empty strings Jaccard 1.0)."""
    return F.when(
        F.length(col) < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - (n - 1)),
                lambda i: F.substring(col, i, n),
            )
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


# --- MinHash + LSH (Arrow band kernel, scale path) ------------------------------

#: MinHash signature width and its banding: LSH_BANDS bands of LSH_ROWS
#: slots each. 8 x 8 puts the banding S-curve's midpoint near Jaccard 0.77.
MINHASH_SLOTS = 64
LSH_BANDS = 8
LSH_ROWS = MINHASH_SLOTS // LSH_BANDS

#: multiplicative-xor family constants for the batched signature
_MINHASH_A = 0x9E3779B97F4A7C15
_MINHASH_MASK = (1 << 64) - 1


def _flat_shingle_hashes(texts: pd.Series, n: int):
    """(unique-shingle uint64 hashes sorted by row, row ids, row count)
    for a text batch — all numpy. Shingle STRINGS never cross Arrow
    (300 small strings/row of serde vs one rolling hash); the compact
    int64 HASH arrays do cross once per document in
    minhash64_band_features_udf, which is what lets verify run JVM-side
    instead of re-shingling texts per candidate pair. Each row's
    shingles are sorted and deduped on their own
    (functions.hashing.sorted_distinct_per_row)."""
    from ..functions.hashing import char_ngram_hashes_flat, sorted_distinct_per_row

    tl = [str(t) for t in texts.fillna("")]
    h, rows = char_ngram_hashes_flat(tl, n)
    nrows = len(tl)
    if len(h) == 0:
        # keep the (hashes, rows, nrows) contract: the row count goes in
        # the THIRD slot (an all-short/empty batch otherwise fed the empty
        # rows ndarray to np.full((nrows, 64), ...) in _minhash64)
        return h, rows, nrows
    out, distinct = sorted_distinct_per_row(h, np.bincount(rows, minlength=nrows))
    return out, np.repeat(np.arange(nrows, dtype=rows.dtype), distinct), nrows


def _minhash64(h: np.ndarray, rows: np.ndarray, nrows: int) -> np.ndarray:
    """(nrows, 64) int64 MinHash signatures of row-grouped uint64 shingle
    hashes: slot j is the per-row segment min of family member j,
    ``(h * A_j) ^ B_j``. Rows without shingles keep the int64-max
    sentinel in every slot."""
    sig = np.full((nrows, MINHASH_SLOTS), np.iinfo(np.int64).max, dtype=np.int64)
    if len(h):
        counts = np.bincount(rows, minlength=nrows)
        bounds_all = np.concatenate(([0], np.cumsum(counts)))[:-1]
        nonempty = np.nonzero(counts > 0)[0]
        bounds = bounds_all[nonempty]
        with np.errstate(over="ignore"):
            for j in range(MINHASH_SLOTS):
                mixed = (
                    h * np.uint64((_MINHASH_A * (2 * j + 1)) & _MINHASH_MASK)
                ) ^ np.uint64((j * 0xC2B2AE3D27D4EB4F) & _MINHASH_MASK)
                sig[nonempty, j] = np.minimum.reduceat(mixed.view(np.int64), bounds)
    return sig


LSH_BAND_FEATURES = T.StructType(
    [
        T.StructField("bhs", T.ArrayType(T.LongType())),
        T.StructField("sh", T.ArrayType(T.LongType())),
    ]
)


def minhash64_band_features_udf(n: int = 5):
    """text → struct<bhs: LSH_BANDS per-band bucket hashes, sh: DISTINCT
    shingle hashes (unsigned-64 sort order, int64 view)> in ONE Arrow
    pass (iterator pandas UDFs are never fused by Catalyst, so emitting
    both from one UDF keeps the LSH base a single Python stage).

    The 64-slot signature (_minhash64, computed from the deduped stream —
    the min of a multiset equals the min of its distinct values) never
    leaves Python: band b's bucket hash is the vectorized Spark-exact
    XXH64 chain (functions.hashing.xxhash64_longs, pinned bit-equal to
    F.xxhash64) over slots b*8 .. b*8+7, i.e. the value the JVM
    expression ``xxhash64(sig[b*8], ..., sig[b*8+7])`` gives. Hashing
    here instead of in a JVM banding explode avoids two ~81 KB Janino
    classes (~22 s of first-run compile at sf0.1) and sends 8 longs/row
    back over Arrow instead of 64. Emitting ``sh`` lets the verify step
    run entirely JVM-side (array_intersect set ops): each document is
    shingled once here instead of once per candidate pair."""

    @F.pandas_udf(LSH_BAND_FEATURES)
    def _feat(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from ..functions.hashing import xxhash64_longs

        for s in it:
            h, rows, nrows = _flat_shingle_hashes(s, n)
            sig_u = _minhash64(h, rows, nrows).view(np.uint64)
            if len(h):
                counts = np.bincount(rows, minlength=nrows)
                sh_list = np.split(h.view(np.int64), np.cumsum(counts)[:-1])
            else:
                sh_list = [np.empty(0, dtype=np.int64)] * nrows
            bhs = np.empty((nrows, LSH_BANDS), dtype=np.int64)
            for b in range(LSH_BANDS):
                bhs[:, b] = xxhash64_longs(
                    [sig_u[:, b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                ).view(np.int64)
            yield pd.DataFrame({"bhs": list(bhs), "sh": sh_list})

    return _feat


def sh_jaccard(pairs: DataFrame, sh1: str, sh2: str) -> DataFrame:
    """``pairs`` with its two precomputed distinct shingle-hash array
    columns replaced by their exact Jaccard, ``jaccard``, pure JVM
    (array_intersect is a hash-set membership pass — O(n+m),
    whole-stage-codegen, no Python worker in the verify path). int/int
    division promotes to double, bit-identical to a numpy float64
    division of the same exact integers (pinned against an independent
    re-shingling reference kernel in tests/).

    The intersection size is computed ONCE per pair, as the one element
    of ``explode(array(...))``. Written as a plain column, a later
    ``filter(jaccard >= t)`` is pushed by Catalyst through the
    projection into the verify join's condition with the expression
    inlined, so every candidate pays the intersection twice there (the
    union repeats it) and every survivor a third time in the projection.
    A Generate output cannot be pushed below its Generate, so the filter
    stays above it and reads the one computed value."""
    inter = F.col("_inter")
    union = F.size(sh1) + F.size(sh2) - inter
    rest = [c for c in pairs.columns if c not in (sh1, sh2)]
    return pairs.select(
        *pairs.columns,
        F.explode(F.array(F.size(F.array_intersect(sh1, sh2)))).alias("_inter"),
    ).select(*rest, F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"))


def _check_lsh_params(
    n: int = 1, verify_threshold: float = 0.5, max_bucket_size: int = 1000
) -> None:
    """ValueError for near-dup parameters that cannot give a meaningful
    pair set: no shingles (n < 1), a threshold no Jaccard can or every
    pair will pass, a bucket cap that drops every bucket with a pair, or
    no cap (``None``: each bucket would collect an unbounded array).
    Shared by the LSH and SimHash operators."""
    if n < 1:
        raise ValueError(f"n={n}: shingle size must be >= 1")
    if not 0 < verify_threshold <= 1:
        raise ValueError(f"verify_threshold={verify_threshold} must be in (0, 1]")
    if max_bucket_size is None or max_bucket_size < 2:
        raise ValueError(f"max_bucket_size={max_bucket_size} must be an int >= 2")


def _underpartitioned(df: DataFrame) -> bool:
    """True when the frame's scan has fewer input files than cores.

    Partitioning is a pure performance decision here (the pair set is
    partition-invariant), so a cheap proxy beats the exact probe:
    ``inputFiles()`` is a cached file listing (~ms), where
    ``df.rdd.getNumPartitions()`` builds the full physical plan + RDD DAG
    on the driver (~0.1 s per fresh DataFrame). Each input file yields at
    least one scan partition, so n_files ≥ cores means the UDF stage is
    already spread; the rare huge-files-few-of-them layout takes one
    unnecessary keyed shuffle, which is the safe direction. Non-file
    sources (in-memory frames) list no input files, so they always take
    the keyed shuffle."""
    return len(df.inputFiles()) < df.sparkSession.sparkContext.defaultParallelism


def _lsh_base(df: DataFrame, key_col: str, text_col: str, n: int) -> DataFrame:
    """(k, t, bhs, sh) projection for the LSH path: per-band bucket hashes
    + distinct shingle-hash array from one Arrow pass (see
    minhash64_band_features_udf). Texts with no n-shingles are excluded
    here — see minhash_lsh_pairs docstring — and so are NULL keys: a
    NULL key never forms a pair (``k1 < k2`` is NULL), so it must not
    count toward a bucket's cap either. Filtering them here, below the
    features exchange, also keeps the verify joins from inferring
    ``isnotnull(k)`` on their branches only, which would give those
    branches an exchange that no longer matches the banding one."""
    base = df.select(F.col(key_col).alias("k"), F.col(text_col).alias("t")).filter(
        F.col("k").isNotNull() & (F.length("t") >= F.lit(n))
    )
    # The features UDF is the compute-heavy stage: spread it over every
    # core when the source arrives under-partitioned (one small parquet
    # file = one task would serialize the whole corpus through a single
    # Python worker). Keyed repartition, so the shuffle is deterministic;
    # a well-partitioned 100 TB source skips this branch entirely.
    if _underpartitioned(base):
        base = base.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col("k")
        )
    feat = base.withColumn("_feat", minhash64_band_features_udf(n)(F.col("t")))
    return feat.select(
        "k",
        "t",
        F.col("_feat.bhs").alias("bhs"),
        F.col("_feat.sh").alias("sh"),
    )


def _lsh_banded_bhs(base: DataFrame) -> DataFrame:
    """(k, band, bh) explode of a precomputed band-hash frame,
    codegen-trivial (the band hash chain already ran). ``bhs`` always
    holds LSH_BANDS entries, so ``posexplode_outer`` yields the same rows
    as ``posexplode``; the plain form makes Catalyst infer a
    ``size(bhs) > 0`` filter and push it below the features exchange,
    where it splits that exchange and re-runs the features UDF (the same
    reason operators/audio.py uses ``explode_outer``)."""
    return base.select("k", F.posexplode_outer("bhs").alias("band", "bh"))


def _lsh_features(df: DataFrame, key_col: str, text_col: str, n: int) -> DataFrame:
    """(k, bhs, sh) LSH features shuffled ONCE by key, so every consumer
    — the banding explode, the bucket-cap count and both verify joins —
    reads the same exchange. AQE reuses that shuffle stage
    (ReusedExchange), so the Arrow features UDF runs once per query:
    nothing is cached, nothing needs releasing, and the calling operator
    stays lazy.

    The features cross the exchange as ONE packed array
    ``f = bhs ++ sh`` and are sliced apart above it. With separate
    columns (or a struct, via nested-column pruning) Catalyst prunes the
    exchange per consumer into (k, bhs) and (k, sh) copies, and each
    extra copy runs the UDF again. The raw text stays below the
    exchange: verify runs on the sh arrays, so shuffling it would only
    add bytes to the exchange and the verify joins' build sides."""
    base = _lsh_base(df, key_col, text_col, n)
    packed = base.select("k", F.concat("bhs", "sh").alias("f")).repartition("k")
    return packed.select(
        "k",
        F.slice("f", 1, LSH_BANDS).alias("bhs"),
        F.slice("f", LSH_BANDS + 1, F.size("f") - LSH_BANDS).alias("sh"),
    )


def _capped_buckets_one_exchange(
    df: DataFrame, keys: list[str], cap: int, member: Column
) -> DataFrame:
    """(keys…, ks): the ``member`` values of every (keys) bucket with 2
    to ``cap`` rows, one collect_list array per bucket. Buckets over
    ``cap`` rows are removed via count-aggregate → broadcast anti-join
    (the oversized-group list is tiny by construction), with the
    bucketed rows shuffled exactly ONCE (guide §2.4: two operations
    keyed the same way share one exchange):
    repartition by ``keys`` up front, so the oversized-bucket
    count-aggregate and the member collect consume the SAME exchange
    (ReusedExchange) instead of each paying its own shuffle of the
    banded rows. The broadcast anti-join preserves the streamed side's
    partitioning, so the groupBy(keys) plans with no exchange at all.

    r7 A/B at sf1.0 (fresh JVMs, interleaved): the two-exchange shape
    medianed 6.2-6.5s inside the minhash headline query, this shape
    4.3-4.7s — and the OOM guard holds: over-cap buckets are dropped
    BEFORE any per-bucket array materializes. collect_list, not
    collect_set: each row is one member of one bucket, so members are
    distinct and the callers' candidate distinct() absorbs any upstream
    key dups."""
    df = df.repartition(*keys)
    over = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > cap)
        .drop("_bsz")
    )
    return (
        df.join(F.broadcast(over), keys, "left_anti")
        .groupBy(*keys)
        .agg(F.collect_list(member).alias("ks"))
        .filter(F.size("ks") >= 2)
    )


def minhash_lsh_bucket_stats(
    df: DataFrame,
    key_col: str,
    text_col: str,
    n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """No-silent-caps accounting for ``minhash_lsh_pairs``: one row with
    the number of buckets and banded rows that the bucket cap drops, the
    size of the largest dropped bucket, and the short-text row count
    excluded from the LSH path. Run with the same parameters as the pairs
    call and log the result."""
    _check_lsh_params(n, max_bucket_size=max_bucket_size)
    n_short = df.filter(F.length(F.col(text_col)) < F.lit(n)).count()
    banded = _lsh_banded_bhs(_lsh_base(df, key_col, text_col, n))
    # sizes only — never collect keys per bucket: the over-cap buckets are
    # exactly the ones where a per-bucket collect would blow executor memory
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("sz"))
    agg = sizes.filter(F.col("sz") > max_bucket_size).agg(
        F.count(F.lit(1)).alias("dropped_buckets"),
        F.coalesce(F.sum("sz"), F.lit(0)).alias("dropped_banded_rows"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("largest_bucket"),
    )
    return agg.withColumn("short_text_rows", F.lit(n_short))


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    n: int = 3,
    verify_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH (MINHASH_SLOTS
    hashes in LSH_BANDS bands of LSH_ROWS), verified with exact shingle
    Jaccard.

    Lazy: the call runs no Spark job and caches nothing. The features
    cross one keyed exchange that the banding and both verify joins
    reuse, so the Arrow stage runs once per action (see _lsh_features).
    Filter the INPUT rather than the returned pairs: a filter on ``k1``
    or ``k2`` is pushed into one verify side, splits that exchange and
    runs the features UDF twice (results stay correct).

    Plan: Arrow features stage (band hashes + shingle hashes) → keyed
    exchange → posexplode_outer(bhs) [rows ×LSH_BANDS] →
    bucket cap + groupBy(band, band_hash) collect_list
    (_capped_buckets_one_exchange) → double explode (k1 < k2) candidate
    pairs → verify join back to the precomputed shingle-hash arrays →
    sh_jaccard (one array_intersect per pair; its Generate keeps the
    threshold filter out of the join condition) → threshold filter.
    Pair generation is ONE keyed shuffle: the capped banded rows group
    into ≤``max_bucket_size``-element key arrays (bounded: ≤8 KB per
    bucket by construction, which is why the cap is required) and the
    k² pair explode runs inside the same stage — measured 2× faster
    than a two-sided bucket self-join at sf0.1 (which shuffled the
    banded rows twice and built a join hash table per bucket), with
    identical output. Every stage is bounded by bucket sizes, not table
    size — which the two scale guards below make actually true:

    - texts with NO n-shingles (length < n) are excluded up front; they
      would otherwise all share one sentinel signature and form a single
      O(m²) bucket in every band. Short-text exact duplicates belong to
      ``exact_dedup``, not LSH (jaccard between empty shingle sets is 0
      by definition here anyway).
    - buckets larger than ``max_bucket_size`` are DROPPED before pair
      generation: a map-side-partial count of (band, bh) finds the
      oversized buckets (a tiny set by definition — only degenerate
      content produces them) which is then BROADCAST anti-joined against
      the banded rows, so the cap costs no extra sort or full-row
      shuffle. A degenerate bucket means boilerplate/identical content:
      exact_dedup catches the identical part, and emitting O(k²) pairs
      for k≈millions is THE failure mode of banded LSH at 100 TB. This
      is a recall cap, not a silent one — ``minhash_lsh_bucket_stats``
      reports the dropped mass with the same parameters."""
    _check_lsh_params(n, verify_threshold, max_bucket_size)
    base = _lsh_features(df, key_col, text_col, n)

    # the nested explode stays whole-stage-codegen (a transform()-based
    # combination build would run interpreted — SNIPPETS.md HOF note)
    grouped = _capped_buckets_one_exchange(
        _lsh_banded_bhs(base), ["band", "bh"], max_bucket_size, F.col("k")
    )
    # the pair dedup and the first verify join share ONE exchange:
    # hashpartitioning(k1) clusters (k1, k2) — partition keys are a
    # subset of the distinct keys — so distinct() plans with no
    # exchange of its own, and the k1 verify join below reuses the
    # same partitioning for its streamed side (guide §2.4)
    cand = (
        grouped.select("ks", F.explode("ks").alias("k1"))
        .select("k1", F.explode("ks").alias("k2"))
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2")
        .repartition(F.col("k1"))
        .distinct()
    )

    # verify: join the candidates back to the PRECOMPUTED distinct
    # shingle-hash arrays and compute exact Jaccard as JVM set ops —
    # zero Python in the verify path, each doc shingled once at base
    # build instead of once per candidate pair (4-6× at sf0.1; the gap
    # widens with candidate fan-out at table scale). The sh side is
    # hinted shuffle_hash (guide §3.1): its row count is small but its
    # payload is the corpus's whole shingle-hash mass (~2.4 KB/doc), so
    # letting the planner broadcast it builds a several-hundred-MB hash
    # relation on the driver at sf1.0 — and an impossible one at table
    # scale. A per-partition hash build after a keyed shuffle costs
    # nothing extra and is scale-invariant (r7 A/B: the broadcast plan's
    # first run was 26.6s vs 10.1s shuffled, equal results). The
    # threshold filter must not reach the join condition: there the
    # inlined Jaccard intersects each candidate's arrays twice (and the
    # projection once more per survivor); sh_jaccard computes the
    # intersection once, behind a Generate the filter cannot cross.
    shs = base.select(F.col("k"), F.col("sh"))
    joined = cand.join(
        shs.withColumnsRenamed({"k": "k1", "sh": "sh1"}).hint("shuffle_hash"),
        "k1",
    ).join(
        shs.withColumnsRenamed({"k": "k2", "sh": "sh2"}).hint("shuffle_hash"),
        "k2",
    )
    return sh_jaccard(joined.select("k1", "k2", "sh1", "sh2"), "sh1", "sh2").filter(
        F.col("jaccard") >= verify_threshold
    )


# --- exact substring-duplication spans ----------------------------------------


def substring_dup_spans(
    df: DataFrame,
    key_col: str,
    text_col: str,
    k: int = 20,
    winnow_w: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """(key, span_start, span_len) of every maximal text span whose
    k-grams also appear in ≥ ``min_docs``−1 OTHER documents — the
    exact-substring dedup signal (boilerplate headers, license blocks,
    copied passages) that MinHash's whole-document similarity misses.

    Spark-first shape of the published suffix-array method (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    - every k-char window becomes (key, pos, xxhash64(gram)) — hashing
      keeps the exploded shuffle rows fixed-width (~24 B) instead of k
      text bytes; the ~20× byte amplification vs the raw text is the
      honest cost of trading the suffix array for a hash-groupBy;
    - ``winnow_w`` > 1 cuts that shuffle ~w×: keep only windows whose
      hash is minimal among the next w windows — WINNOWING (Schleimer,
      Wilkerson, Aiken, SIGMOD 2003). A fixed-stride grid would NOT
      work (two copies of a passage at different offsets sample
      different grams); winnowing selects by CONTENT, so both copies
      pick the same fingerprints and any shared substring of length
      ≥ k + w − 1 is still caught. w=1 keeps every window (exact span
      boundaries); w>1 resolves boundaries to ±w chars;
    - one hash-agg finds fingerprints spanning ≥ min_docs distinct
      docs, a semi-join keeps the duplicated windows, and per key,
      surviving positions with gaps ≤ w merge into maximal spans via
      gaps-and-islands (one keyed window).

    Positions are 1-based (SQL substring convention); an island of
    windows [p1..pn] spans pn − p1 + k chars."""
    key, txt = F.col(key_col), F.col(text_col)
    grams = (
        df.select(key.alias("k"), txt.alias("t"))
        .filter(F.length("t") >= k)
        .select(
            "k",
            F.explode(F.sequence(F.lit(1), F.length("t") - (k - 1))).alias("pos"),
            "t",
        )
        .select("k", "pos", F.xxhash64(F.expr(f"substring(t, pos, {k})")).alias("gh"))
    )
    if winnow_w > 1:
        # true winnowing, two stacked frames over one sort: _mn[j] is each
        # length-w window's min; p survives iff SOME window containing p
        # has p as its argmin — since _mn[j] ≤ gh[p] for every window j
        # containing p, that is exactly max(_mn over those j) == gh[p].
        # Every window keeps its argmin, so selected positions are never
        # more than w apart (the density guarantee the island merge
        # below relies on); a keep-if-local-forward-min shortcut has NO
        # such bound (a descending hash run selects nothing).
        ws = W.partitionBy("k").orderBy("pos")
        grams = (
            grams.withColumn(
                "_mn", F.min("gh").over(ws.rowsBetween(0, winnow_w - 1))
            )
            .withColumn(
                "_keep",
                F.max("_mn").over(ws.rowsBetween(-(winnow_w - 1), 0))
                == F.col("gh"),
            )
            .filter("_keep")
            .drop("_mn", "_keep")
        )
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("k").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi")
    w = W.partitionBy("k").orderBy("pos")
    islands = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            (
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > winnow_w)
            ).cast("int"),
        )
        .withColumn(
            "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    return (
        islands.groupBy("k", "island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k - 1).alias("span_end"))
        .select(
            F.col("k").alias(key_col),
            "span_start",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


# --- incremental LSH index -----------------------------------------------------
#
# A 100 TB corpus is not re-signed when a daily batch lands: the banded
# signatures are a persisted INDEX. Writing a batch appends its (k, band,
# bh) rows + partial bucket counts; querying signs only the new rows and
# joins them against the index on (band, bh). The bucket cap is applied
# to the COMBINED (index + batch) bucket size via the stored partial
# counts, so the incremental pair set for new↔old pairs is exactly what
# one monolithic minhash_lsh_pairs over (old ∪ new) would emit —
# pinned by tests/test_dedup_similarity.py.


def lsh_index_write(
    df: DataFrame,
    key_col: str,
    text_col: str,
    path: str,
    n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Sign + band a corpus (or an incremental batch: mode='append')
    into a persisted LSH index at ``path``: banded rows partitioned by
    band (partition-pruned reads), the verify features (raw text + the
    distinct shingle-hash array, so queries never re-shingle the stored
    corpus), and PARTIAL per-bucket counts (queries sum them, so
    appends never rewrite old counts — the same additive-ledger idea as
    the pipeline's counters)."""
    _check_lsh_params(n)
    base = _lsh_base(df, key_col, text_col, n).persist()
    try:
        banded = _lsh_banded_bhs(base)
        banded.write.mode(mode).partitionBy("band").parquet(path + "/banded")
        banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("cnt")).write.mode(
            mode
        ).parquet(path + "/bucket_counts")
        base.select("k", "t", "sh").write.mode(mode).parquet(path + "/texts")
    finally:
        base.unpersist()


def lsh_index_query(
    new_df: DataFrame,
    key_col: str,
    text_col: str,
    path: str,
    n: int = 3,
    verify_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs (k_new, k_old, jaccard) between a new batch and
    the indexed corpus — the corpus is never re-signed or re-shingled
    (the verify step reads the STORED distinct shingle-hash arrays of
    matched candidates and runs JVM set ops; no Python, no text
    re-shingling). Returns the same pairs a monolithic run over
    (old ∪ new) would return for new↔old key pairs, including the
    bucket-cap decision, which uses index counts + batch counts.

    Lazy like minhash_lsh_pairs: the only jobs the call runs are the
    schema reads of the index's parquet files. The batch's features
    cross one keyed exchange that its banding explode, its bucket
    counts and its verify join all reuse (see _lsh_features)."""
    _check_lsh_params(n, verify_threshold, max_bucket_size)
    spark = new_df.sparkSession
    new_base = _lsh_features(new_df, key_col, text_col, n)
    new_banded = _lsh_banded_bhs(new_base)
    idx = spark.read.parquet(path + "/banded")
    idx_counts = (
        spark.read.parquet(path + "/bucket_counts")
        .groupBy("band", "bh")
        .agg(F.sum("cnt").alias("cnt_old"))
    )
    new_counts = new_banded.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("cnt_new")
    )
    over = (
        new_counts.join(idx_counts, ["band", "bh"], "left")
        .filter(
            F.coalesce(F.col("cnt_old"), F.lit(0)) + F.col("cnt_new")
            > max_bucket_size
        )
        .select("band", "bh")
    )
    # only buckets the BATCH touches can produce new pairs, so the
    # oversized list stays batch-sized (broadcastable) even when the
    # index holds billions of rows
    new_banded = new_banded.join(F.broadcast(over), ["band", "bh"], "left_anti")
    idx = idx.join(F.broadcast(over), ["band", "bh"], "left_anti")

    cand = (
        new_banded.withColumnRenamed("k", "k_new")
        .join(idx.withColumnRenamed("k", "k_old"), ["band", "bh"])
        .filter(F.col("k_new") != F.col("k_old"))
        .select("k_new", "k_old")
        .distinct()
    )
    old_sh = spark.read.parquet(path + "/texts").select(
        F.col("k").alias("k_old"), F.col("sh").alias("sh_old")
    )
    new_sh = new_base.select(F.col("k").alias("k_new"), F.col("sh").alias("sh_new"))
    # shuffle_hash on the sh sides, same rationale as minhash_lsh_pairs:
    # small row counts but the whole shingle-hash mass as payload —
    # never driver-broadcast the corpus features; sh_jaccard keeps the
    # threshold filter out of the join condition, as there
    joined = cand.join(new_sh.hint("shuffle_hash"), "k_new").join(
        old_sh.hint("shuffle_hash"), "k_old"
    )
    return sh_jaccard(
        joined.select("k_new", "k_old", "sh_new", "sh_old"), "sh_new", "sh_old"
    ).filter(F.col("jaccard") >= verify_threshold)


# --- SimHash -------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over whitespace tokens — fully vectorized per Arrow
    batch: ONE token_hash_batch call over the flattened batch tokens
    (the perplexity gate's position-weighted polynomial kernel — SimHash
    only needs a uniform 64-bit token hash), one (T, 64) bit expansion,
    and per-row bit majorities via np.add.reduceat over row boundaries.
    r6: replaced a per-row Python loop that hashed each token with a
    per-BYTE scalar FNV — O(rows·tokens·bytes) interpreter work, the
    last non-vectorized kernel in the dedup suite and a real cost at
    10^12 rows. Measured 73 → 42 µs/row at 30 tokens/row (and the bit
    expansion MUST be np.unpackbits on the little-endian byte view: the
    obvious (T,64) uint64-shift expansion is 2× SLOWER than the old
    loop on memory traffic alone). Values changed with the hash family;
    every simhash property (identical→0, pigeonhole recall, cap) is
    hash-agnostic and pytest-pinned. Two consequences of the family
    (ADVICE r6): tokens sharing a 16-char prefix hash identically
    (noise to a majority-vote sketch, stated for consumers), and any
    simhash PERSISTED before the r6 swap is incomparable with current
    values — persisted simhash artifacts must be versioned alongside
    ARTIFACT_VERSION or rebuilt (this repo persists none)."""
    from ..functions.hashing import token_hash_batch

    shifts = np.arange(64, dtype=np.uint64)
    for s in it:
        n = len(s)
        out = np.zeros(n, dtype=np.int64)
        toks_rows = [str(t).lower().split() for t in s.fillna("")]
        counts = np.array([len(t) for t in toks_rows], dtype=np.int64)
        if n and counts.sum():
            flat = [w for row in toks_rows for w in row]
            hs = token_hash_batch(flat)  # uint64 (T,)
            bits = np.unpackbits(
                hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            bounds = np.concatenate(([0], np.cumsum(counts)))[:-1]
            nonempty = counts > 0
            # reduceat segments run to the NEXT nonempty row's start;
            # empty rows contribute zero tokens, so each segment is
            # exactly one nonempty row's tokens. int32: uint8 sums would
            # wrap at 256 tokens per row
            sums = np.add.reduceat(bits.astype(np.int32), bounds[nonempty], axis=0)
            votes = (sums * 2 - counts[nonempty][:, None]) > 0
            vals = (votes.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
            out[nonempty] = vals.view(np.int64)
        yield pd.Series(out)


def simhash_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    max_hamming: int = 3,
    num_chunks: int | None = None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via multi-index
    pigeonhole bucketing.

    With m = ``num_chunks`` bit-chunks and h = ``max_hamming``, a pair
    differing in ≤ h bits leaves ≥ m−h chunks untouched, so it shares at
    least one of the C(m, m−h) possible (m−h)-chunk combination keys —
    we bucket on every combination. m = h+1 is the classic minimal split
    (4×16-bit for h=3), but its 2^16 bucket space means expected bucket
    size n/65k — O(n²/65k) candidate pairs past ~10^7 rows. Larger m
    trades explode factor C(m, m−h) for exponentially tighter buckets:
    m=6, h=3 ⇒ 20 combos keyed on ~32 bits (space ~4×10^9); m=8 ⇒ 56
    combos on 40 bits. Pick m so n / 2^(combo bits) stays O(1) at your
    scale. Recall for hamming ≤ h is exact at ANY m > h (pigeonhole);
    only the candidate volume changes.

    Degenerate buckets (identical boilerplate ⇒ identical simhash) are
    capped at ``max_bucket_size`` rows (required), collected as (k, sh)
    members by the same _capped_buckets_one_exchange as minhash_lsh_pairs."""
    if num_chunks is None:
        num_chunks = max_hamming + 1  # classic minimal split
    if not 0 <= max_hamming < num_chunks <= 64:
        raise ValueError(
            "pigeonhole needs 0 <= max_hamming < num_chunks <= 64 (at least one bit "
            f"per chunk); got max_hamming={max_hamming}, num_chunks={num_chunks}"
        )
    _check_lsh_params(max_bucket_size=max_bucket_size)
    import itertools

    m = num_chunks
    bounds = [round(64 * c / m) for c in range(m + 1)]

    def chunk_col(c: int) -> Column:
        lo, width = bounds[c], bounds[c + 1] - bounds[c]
        return F.shiftrightunsigned(F.col("sh"), lo).bitwiseAND(F.lit((1 << width) - 1))

    combos = list(itertools.combinations(range(m), m - max_hamming))
    # a NULL key never forms a pair (k1 < k2 is NULL), so it must not
    # count toward a bucket's cap either (as in _lsh_base)
    h = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("k"), simhash64_udf(F.col(text_col)).alias("sh")
    )
    buckets = h.select(
        "k",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo"),
                        F.xxhash64(*[chunk_col(c) for c in combos[ci]]).alias("bv"),
                    )
                    for ci in range(len(combos))
                ]
            )
        ).alias("cc"),
    ).select("k", "sh", "cc.combo", "cc.bv")

    grouped = _capped_buckets_one_exchange(
        buckets, ["combo", "bv"], max_bucket_size, F.struct("k", "sh")
    )
    cand = (
        grouped.select("ks", F.explode("ks").alias("a"))
        .select("a", F.explode("ks").alias("b"))
        .filter(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("k1"),
            F.col("b.k").alias("k2"),
            F.col("a.sh").alias("sh1"),
            F.col("b.sh").alias("sh2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return cand.select("k1", "k2", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding near-dup ---------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    threshold: float = 0.95,
    *,
    block_col: str,
) -> DataFrame:
    """Cosine ≥ threshold pairs, brute force within each ``block_col``
    block (exact). For table scale, block with similarity.lsh_bucket
    first; there is no unblocked form (an ``a.k < b.k`` self-join is an
    O(n²) cartesian)."""
    from ..functions.arrays import cosine

    if not -1 <= threshold <= 1:
        raise ValueError(f"threshold={threshold}: cosine lies in [-1, 1]")
    s = df.select(
        F.col(key_col).alias("k"), F.col(vec_col).alias("v"), F.col(block_col).alias("blk")
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.k") < F.col("b.k")) & (F.col("a.blk") == F.col("b.blk")))
        .select(
            F.col("a.k").alias("k1"),
            F.col("b.k").alias("k2"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --- benchmark decontamination ------------------------------------------------


def token_ngram_hashes(col: Column, n: int = 13) -> Column:
    """Token-level n-gram hash array: lowercase, split on non-word runs,
    hash each n-token window once with xxhash64 over the joined window.
    Texts shorter than n tokens produce an EMPTY array (they cannot
    contain a full n-gram). All JVM-side; the transform/sequence HOF is
    interpreted, but it runs over ≤(tokens−n+1) slots per row and the
    per-slot work is one concat+hash — hashing each window ONCE here
    beats re-hashing grams in every downstream comparison."""
    toks = F.filter(F.split(F.lower(col), r"\W+"), lambda t: t != F.lit(""))
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k <= 0, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
        )
    )


def decontaminate(
    df: DataFrame,
    ref: DataFrame,
    text_col: str,
    key_col: str,
    ref_text_col: str | None = None,
    n: int = 13,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Remove rows whose text shares ANY token-level n-gram with a
    reference corpus (benchmark decontamination — the standard guard
    against test-set leakage into training data; 13 tokens is the
    common published window).

    Plan: hash the reference's distinct n-grams once (tiny next to the
    training side — benchmarks are MBs, training sets are TBs), then a
    LEFT ANTI join from the exploded training grams' DISTINCT
    (key, gram) pairs back to doc keys. With ``broadcast_ref`` the anti
    join is map-side (zero shuffle of the big side beyond the explode's
    own stage); flip it off if the reference is genuinely large and let
    the shuffle hash join partition both sides by gram. Returns df rows
    that survive, original schema."""
    ref_grams = (
        ref.select(F.explode(token_ngram_hashes(F.col(ref_text_col or text_col), n)).alias("g"))
        .distinct()
    )
    if broadcast_ref:
        ref_grams = F.broadcast(ref_grams)
    doc_grams = df.select(
        F.col(key_col).alias("_k"),
        F.explode(token_ngram_hashes(F.col(text_col), n)).alias("g"),
    )
    contaminated = (
        doc_grams.join(ref_grams, "g", "left_semi").select("_k").distinct()
    )
    return df.join(
        contaminated, df[key_col] == contaminated["_k"], "left_anti"
    )
