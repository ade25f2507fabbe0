"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Engine extensions for training-data pipelines (no reference analog —
SURVEY.md §2.4). Design targets the 100 TB documents table:

- **exact_duplicate_ids** shuffles a 16-byte md5 digest, never the text;
  the aggregation is Spark's partial+final hash-agg (map-side combine), so
  the shuffle volume is O(distinct digests), not O(corpus bytes).
- **n-gram math is native Catalyst expressions** (regexp_extract_all)
  — whole-stage codegen, no Python. The MinHash and SimHash signatures
  are one Arrow pass of numpy over the same grams (``_py_ngrams``) and
  their md5-derived 32-bit hashes (the first 8 hex chars, base 16), so
  any SQL engine reproduces them exactly, which the DuckDB oracles
  exploit.
- **LSH banding** turns the quadratic all-pairs problem into a group-by on
  (band_idx, band_key): only documents agreeing on a full band ever meet.
  Hot buckets (boilerplate docs) are dropped by a default-on per-bucket
  cap (DEFAULT_MAX_BUCKET, broadcast anti-join of the over-cap keys)
  rather than letting one reducer take the whole cluster down; ``None``
  restores exactness.
- **SimHash** is a single narrow projection producing a 64-bit signature;
  near-dup candidates = equal signature (or banded 16-bit chunks).
"""

from __future__ import annotations

import hashlib
import typing

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from ..functions.exact import ppm
from ..resources import hold
from pyspark.storagelevel import StorageLevel

from .banding import bit_chunks, bucket_pairs, drop_hot_keys
from .text import content_digest, normalized_text_expr

# 32-bit md5-prefix gram hash, then affine universal hashing mod a prime.
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)

#: production hot-key caps (the melting configuration at web scale is an
#: UNCAPPED boilerplate gram / LSH bucket: one hot key fans out O(df^2)
#: candidate pairs). Pairs sharing only >10k-document shingles are below
#: any useful Jaccard threshold, and >10k-document LSH buckets are
#: identical-boilerplate clusters that exact dedup already collapses.
#: Pass ``None`` explicitly for exactness (small corpora / audits).
DEFAULT_MAX_GRAM_DF = 10_000
DEFAULT_MAX_BUCKET = 10_000


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_ids(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, keep_id) for every non-first duplicate: rows whose normalized
    text equals an earlier (smaller-id) row's. keep='first' semantics match
    IsDistinctValidation (reference validation.py:351-364) with the id as
    the order.

    Plan: project (id, digest) -> hash-agg by digest keeping (count, min id)
    -> broadcast the (rare) duplicate digests -> join back. One shuffle of
    16-byte digests with map-side combine.

    The slim (id, digest) projection is PERSISTED: it feeds both the
    duplicate-digest aggregation and the join-back, and without the cache
    the corpus is scanned twice with the normalize+md5 projection
    recomputed per side (measured 4 parquet scans for a union corpus).
    At warehouse scale the equivalent is staging the digest projection
    to a temp table.
    """
    digest = content_digest(F.col(text_col))
    base = hold(df.select(F.col(id_col).alias("id"), digest.alias("__fp__"))
                .persist(StorageLevel.MEMORY_AND_DISK))
    dupes = (
        base.groupBy("__fp__")
        .agg(F.count(F.lit(1)).alias("__c__"), F.min("id").alias("keep_id"))
        .where(F.col("__c__") > 1)
        .select("__fp__", "keep_id")
    )
    return (
        base.join(F.broadcast(dupes), "__fp__")
        .where(F.col("id") != F.col("keep_id"))
        .select("id", "keep_id")
    )


# ---------------------------------------------------------------------------
# n-gram machinery (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------


def word_ngrams_expr(text: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined) of the normalized text as an
    array<string>; documents shorter than n tokens yield their whole token
    string as the single shingle so they still participate.

    Codegen-clean: the normalized text is single-space separated, so the
    overlapping n-grams are exactly the matches of a lookahead regex over
    it (``regexp_extract_all`` is a native codegen expression) — no
    F.transform lambda (CodegenFallback, the 4x interpreted-projection
    regression tests/test_plan_quality.py guards against)."""
    norm = normalized_text_expr(text)
    # space-pad so a `(?<= )` lookbehind anchors every match at a TOKEN
    # start (a bare lookahead matches at every character offset); the
    # lookahead keeps matches overlapping (nothing is consumed)
    raw = F.regexp_extract_all(
        F.concat(F.lit(" "), norm),
        F.lit(r"(?<= )(?=((?:\S+ ){%d}\S+))" % (n - 1)), 1)
    grams = (
        F.when(norm.isNull(), F.lit(None).cast("array<string>"))
        # < n tokens (incl. empty text -> ['']): the whole normalized
        # string is the single shingle, same as the slice-based form
        .when(F.size(raw) > 0, raw)
        .otherwise(F.array(norm))
    )
    return F.array_distinct(grams)


def doc_grams(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, gram) exploded distinct n-grams — the join key space for
    Jaccard; column-pruned scan reads only (id, text)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard all-pairs (exact, for candidate verification)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_gram_df: typing.Optional[int] = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for pairs with Jaccard >= threshold
    (id_a < id_b). Exact similarity join via the inverted index:
    explode grams -> self-join on gram -> count shared grams -> Jaccard
    from the inclusion-exclusion identity |A∪B| = |A|+|B|-|A∩B|.

    ``max_gram_df`` drops grams occurring in more than that many documents
    (boilerplate shingles): at web scale a stop-shingle cap bounds the
    worst-case join fan-out from O(df^2) per hot gram; pairs sharing ONLY
    boilerplate fall below any useful threshold anyway. The default caps
    at 10k docs/gram (results identical whenever no gram exceeds it —
    cross-checked by the DuckDB oracle gate at test scale); pass ``None``
    for exactness regardless of fan-out. NOTE: a dropped hot gram still
    counts in n_a/n_b, so with the cap the reported ratio is a lower bound
    of true Jaccard — the conservative direction for dedup.
    """
    jacc = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return _gram_overlap(df, text_col, id_col, n, max_gram_df).where(jacc >= threshold)


def _gram_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_gram_df: typing.Optional[int],
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for EVERY pair sharing at least
    one gram under the ``max_gram_df`` cap, id_a < id_b — the
    inverted-index self-join that Jaccard and containment threshold
    differently. ``n_a``/``n_b`` count
    all of a document's grams, hot ones included."""
    # persist: the gram inverted index feeds BOTH self-join sides plus the
    # size and hot-gram aggregations — without it the text->ngram->md5
    # pipeline runs per consumer (column renames on the join sides defeat
    # Spark's exchange reuse). At warehouse scale the equivalent is
    # staging grams to a temp table.
    grams = hold(doc_grams(df, text_col, id_col, n)
                 .persist(StorageLevel.MEMORY_AND_DISK))
    # persist the slim (id, n_grams) aggregate: it feeds TWO broadcast
    # join-backs (n_a and n_b), and each broadcast build otherwise
    # replays the full groupBy(id) exchange over the gram frame — one
    # agg instead of two, O(docs) slim rows cached
    sizes = hold(grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    # hot-gram cap, the banding.drop_hot_keys rule: the hot set is
    # tiny/empty by construction. The previous inner join against the
    # <=cap gram table made Spark broadcast the near-COMPLETE
    # distinct-gram frame — unbroadcastable at web scale. (Carrying
    # n_grams on every gram row through the self-join instead of
    # joining sizes back was measured SLOWER — +16 bytes on the
    # candidate-pair exchange and a 4-key partial agg cost more than
    # the two small join-backs, interleaved A/B 11.0s vs 8.0s.)
    [grams] = drop_hot_keys([grams], "gram", max_gram_df)
    # co-partition the (capped) index ONCE and cache it: both self-join
    # sides read the same hash(gram)-partitioned cache, whose
    # partitioning the InMemoryRelation preserves, so the join plans
    # ZERO exchange — vs each side replaying the cap subtree plus a
    # broadcast build of the whole index (unbroadcastable at web scale;
    # measured 7.3s -> 2.3s interleaved on the dedup_clusters corpus).
    # Partition skew is bounded by the cap; at warehouse scale the
    # equivalent is staging the capped index bucketed by gram.
    grams = hold(grams.repartition("gram").persist(StorageLevel.MEMORY_AND_DISK))
    a = grams.select(F.col("id").alias("id_a"), "gram")
    b = grams.select(F.col("id").alias("id_b"), "gram")
    common = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_common", "n_a", "n_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _affine_params(k: int) -> typing.List[typing.Tuple[int, int]]:
    """Deterministic (a, b) per hash function: odd multipliers via the
    Knuth multiplicative constant — fixed, engine-portable, no RNG."""
    out = []
    for j in range(k):
        a = (2 * j + 1) * 2654435761 % MINHASH_PRIME
        b = (j * 40503 + 2654435769) % MINHASH_PRIME
        out.append((a if a % 2 == 1 else a + 1, b))
    return out


_ASCII_WS_RE = None  # compiled lazily; Java \s == ASCII [ \t\n\x0b\f\r]


def _py_ngrams(text: str, n: int) -> typing.List[str]:
    """Python mirror of word_ngrams_expr (normalize -> distinct shingles),
    output for output: the MinHash and SimHash kernels hash these grams,
    the DuckDB oracles the SQL form's. Tokenization MUST split on the
    ASCII class Java's \\s matches (NOT Python str.split(), which is
    Unicode-aware: a U+00A0 NBSP would split here but not in the SQL
    form, so the signatures would drift from the oracle's); trim is
    space-only like F.trim."""
    global _ASCII_WS_RE
    if _ASCII_WS_RE is None:
        import re

        _ASCII_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
    w = _ASCII_WS_RE.sub(" ", text.lower()).strip(" ").split(" ")
    if len(w) < n:
        return [" ".join(w)]
    seen, out = set(), []
    for i in range(len(w) - n + 1):
        g = " ".join(w[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3, k: int = 16,
) -> DataFrame:
    """(id, sig array<long>) — narrow projection, no shuffle: one Arrow
    pass in which each document's k x grams affine-min over the
    md5-derived gram hashes is one (k, G) numpy op. NULL text gives k
    NULL parts, as the SQL form (array_min of a NULL array) does."""
    ab = _affine_params(k)
    a_vec = np.array([a for a, _ in ab], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in ab], dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([None] * k)
                continue
            grams = _py_ngrams(t, n)
            hs = np.array(
                [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams],
                dtype=np.int64,
            )[None, :]
            out.append(((a_vec * hs + b_vec) % MINHASH_PRIME).min(axis=1).tolist())
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("sig"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: typing.Optional[int] = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) agreeing on >=1 full LSH band
    (r = k/bands rows per band). The shuffle key is (band_idx, band_key) —
    a small string — so shuffle volume is O(docs * bands), independent of
    text size. ``max_bucket`` (default 10k) skips pathological buckets
    (identical boilerplate repeated millions of times) to bound the
    per-bucket pair blow-up; candidates from such buckets are recovered by
    exact-dedup (identical docs) upstream. ``None`` = no cap (exact LSH).

    The cap is applied via groupBy-count + broadcast ANTI-join of the
    (rare) over-cap bucket keys — NOT a count-over-window, which would
    funnel every member of the hot bucket through one window task, the
    exact skew the cap exists to avoid."""
    assert k % bands == 0, "k must divide evenly into bands"
    r = k // bands
    # persist: both self-join sides would otherwise recompute the whole
    # ngram->md5->k-fold signature pipeline (the expensive part)
    sigs = hold(minhash_signatures(df, text_col, id_col, n=n, k=k)
                .persist(StorageLevel.MEMORY_AND_DISK))
    [banded] = drop_hot_keys(
        [_banded_sigs(sigs, bands, r)], ["band_idx", "band_key"], max_bucket)
    return bucket_pairs(banded, ["band_idx", "band_key"], "id")


def _banded_sigs(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band_idx, band_key) rows from an (id, sig) frame: band i's key
    is the comma-joined slice sig[i*r : (i+1)*r] — the LSH bucket id.
    Shared by the batch self-join and the incremental store join so both
    paths bucket identically (and identically to the SQL oracle)."""
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.concat_ws(",", F.transform(
                    F.slice(F.col("sig"), bidx * r + 1, r), lambda v: v.cast("string"))),
            )
        ).alias("band_idx", "band_key"),
    )


def incremental_lsh_pairs(
    new_df: DataFrame,
    store_sigs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: typing.Optional[int] = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup: candidate pairs (id_new, id_store) between a
    NEW batch and an existing signature STORE — the (id, sig) frame
    :func:`minhash_signatures` emits, persisted warehouse-side day over
    day. The store's TEXTS are never re-read or re-hashed: yesterday's
    10^12 rows cost nothing today beyond scanning their fixed-width
    signatures; only the new batch pays the gram->md5->k-fold pipeline.
    Within-batch duplicates are the batch LSH's job
    (:func:`lsh_candidate_pairs` over the new batch alone); this join
    only answers "is it already in the corpus".

    Same banding as the batch path (shared helper, identical buckets),
    same hot-bucket cap semantics (counts over the UNION of both sides,
    so a boilerplate bucket is dropped from both — equivalent to batch
    LSH over store+new restricted to cross pairs); candidates verify
    downstream exactly like batch candidates. Append
    ``minhash_signatures(new_df, ...)`` to the store after the run.

    Scale shape: new-batch signatures are narrow and typically tiny
    relative to the store — Spark's planner broadcasts the small side of
    the band join; shuffle volume is O(store_docs x bands) fixed-width
    keys at worst, independent of text size.
    """
    assert k % bands == 0, "k must divide evenly into bands"
    r = k // bands
    new_sigs = hold(minhash_signatures(new_df, text_col, id_col, n=n, k=k)
                    .persist(StorageLevel.MEMORY_AND_DISK))
    nb, sb = drop_hot_keys(
        [_banded_sigs(new_sigs, bands, r), _banded_sigs(store_sigs, bands, r)],
        ["band_idx", "band_key"], max_bucket)
    return (
        nb.select("band_idx", "band_key", F.col("id").alias("id_new"))
        .join(sb.select("band_idx", "band_key", F.col("id").alias("id_store")),
              ["band_idx", "band_key"])
        .select("id_new", "id_store")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str, id_col: str, *, n: int = 3) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over word n-grams.

    Signature bit b = majority vote of gram-hash bit b, from two
    independent 32-bit md5-prefix hashes (digest chars 1-8 / 9-16);
    bit 63 kept clear. One Arrow pass: the 63 bit votes are one
    (G, 63) >>-and-sum numpy op per document. NULL text votes nothing
    and signs 0."""
    lo_shifts = np.arange(32, dtype=np.int64)[None, :]
    hi_shifts = np.arange(31, dtype=np.int64)[None, :]

    @F.pandas_udf("long")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(0)
                continue
            grams = _py_ngrams(t, n)
            digs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
            lo = np.array([int(d[:8], 16) for d in digs], dtype=np.int64)[:, None]
            hi = np.array([int(d[8:16], 16) for d in digs], dtype=np.int64)[:, None]
            g = len(grams)
            lo_bits = ((lo >> lo_shifts) & 1).sum(axis=0) * 2 > g
            hi_bits = ((hi >> hi_shifts) & 1).sum(axis=0) * 2 > g
            sig = int((lo_bits * (1 << np.arange(32, dtype=np.int64))).sum()
                      + (hi_bits * (1 << np.arange(32, 63, dtype=np.int64))).sum())
            out.append(sig)
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("simhash"))


def simhash_candidates(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3, chunk_bits: int = 16,
) -> DataFrame:
    """Near-dup candidates: pairs agreeing on >=1 of the 16-bit signature
    chunks (classic Hamming-ball banding — any pair within Hamming distance
    3 of a 64-bit signature shares at least one of 4 chunks)."""
    chunks = bit_chunks(F.col("simhash"), 64, chunk_bits)
    sigs = hold(simhash64(df, text_col, id_col, n=n)
                .persist(StorageLevel.MEMORY_AND_DISK))
    chunked = sigs.select("id", F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    return bucket_pairs(chunked, ["chunk_idx", "chunk_val"], "id")


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    max_gram_df: typing.Optional[int] = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """Train/eval contamination audit: eval documents sharing at least
    one word n-gram with ANY training document — the decontamination
    gate an LLM data pipeline runs before trusting a benchmark split.

    Returns (eval_id, n_shared_grams, n_grams): the count of the eval
    doc's distinct n-grams that also occur anywhere in the train split,
    and its total distinct n-grams (so callers can threshold on the
    overlap RATIO, not just presence). Only contaminated docs
    (n_shared_grams > 0) are emitted.

    Scale shape — deliberately NOT a pair join: the train side collapses
    to its DISTINCT gram set (map-side-combined hash agg; at web scale
    this is the precomputed shingle index), the eval grams
    LEFT SEMI-join it on the gram, and a per-eval-doc count aggregates
    the hits — O(|eval grams|) shuffle against an index, never
    O(train x eval) pairs, and train doc ids never travel at all.
    ``max_gram_df`` drops boilerplate shingles from the TRAIN index by
    document frequency (same stop-shingle cap + rationale as
    ngram_jaccard_pairs); an eval doc sharing ONLY boilerplate is not
    contamination in any useful sense. Default n=8: long enough that
    natural collisions vanish, the standard decontamination shingle.
    """
    train_grams = doc_grams(train, text_col, id_col, n)
    if max_gram_df is not None:
        # doc_grams emits each (id, gram) once (array_distinct), so
        # count(*) IS the document frequency — same cap form as
        # ngram_jaccard_pairs, no count_distinct partial-state cost
        tdf = train_grams.groupBy("gram").agg(
            F.count(F.lit(1)).alias("__df__"))
        index = (tdf.where(F.col("__df__") <= max_gram_df)
                 .select("gram"))
    else:
        index = train_grams.select("gram").distinct()
    ev = doc_grams(eval_df, text_col, id_col, n)
    # the per-eval-doc gram count is ROW-LOCAL: doc_grams explodes the
    # already-distinct word_ngrams_expr array, so n_grams == size(array)
    # — no second explode pass and no groupBy(id) exchange over the
    # eval gram frame. A NULL-text row's size may read -1 rather than
    # NULL; either way it has no grams, so it never reaches ``shared``
    # and the inner join against ``shared`` drops it
    sizes = eval_df.select(
        F.col(id_col).alias("id"),
        F.size(word_ngrams_expr(F.col(text_col), n)).alias("n_grams"))
    shared = (ev.join(index, "gram", "left_semi")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_shared_grams")))
    return (shared.join(sizes, "id")
            .select(F.col("id").alias("eval_id"),
                    F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
                    F.col("n_grams").cast("long").alias("n_grams")))


def keep_latest(
    df: DataFrame,
    key_cols: typing.Sequence[str],
    order_cols: typing.Sequence[str],
    payload_cols: typing.Sequence[str] = (),
) -> DataFrame:
    """Keep-latest compaction (SCD resolution / log de-versioning): one
    row per key — the row with the lexicographically greatest
    ``order_cols`` tuple — carrying ``payload_cols`` along.

    The idiomatic-but-wrong form is ``row_number() OVER (PARTITION BY key
    ORDER BY ts DESC) = 1``: a window sorts EVERY version of a hot key
    through one task. This is instead ONE map-side-combined hash
    aggregation — ``max(struct(order..., payload...))`` — so each mapper
    pre-collapses its own versions and the shuffle carries one candidate
    row per (mapper, key): the same partial-combine shape as any max().

    Determinism contract: ``order_cols`` must totally order each key's
    rows (include a unique tiebreak, e.g. the event id) — struct
    comparison is lexicographic, so payload fields (placed after the
    order fields) never decide a winner when the order tuple is unique.
    Order columns should be non-null: Spark orders NULL below any value
    inside max() while SQL engines vary — keep NULLs out of the version
    key. NULL grouping keys form their own group (groupBy semantics)."""
    key_cols, order_cols = list(key_cols), list(order_cols)
    payload_cols = list(payload_cols)
    if not key_cols or not order_cols:
        raise ValueError("key_cols and order_cols must be non-empty")
    packed = F.max(F.struct(*[F.col(c) for c in order_cols + payload_cols]))
    agg = df.groupBy(*key_cols).agg(packed.alias("__top__"))
    return agg.select(
        *key_cols,
        *[F.col("__top__." + c).alias(c) for c in order_cols + payload_cols])


def duplication_rate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bucket_size: int = 1000,
) -> DataFrame:
    """Duplication-rate timeline over the ingestion order: per
    ``bucket_size``-id bucket, how many rows repeat content already
    seen at a SMALLER id — the pipeline-health curve that catches the
    day a crawler started re-crawling, a retried ingest double-writing
    a shard, or a source feed looping. dedup answers "which rows";
    this answers "when did duplication start climbing", which is the
    question an on-call actually asks first. keep='first' semantics
    (smallest id is the original), same normalized-md5 content key as
    exact_duplicate_ids so the two operators agree row-for-row.

    Output per bucket: (bucket_start = id - id % bucket_size, n_rows,
    n_dups, dup_ppm = 1e6 * dups div rows) — only buckets with at
    least one non-null text row appear (no spine: id space is dense
    by construction at ingest).

    Scale shape at 10^12 docs: corpus bytes never shuffle — the only
    shuffled frames are the (digest -> min id) hash agg (16-byte
    digests, map-side combined) and its slim join back against
    (id, digest), then a map-side-combined per-bucket count agg.
    NULL texts carry no content identity and are excluded up front
    (the exact_duplicate_ids join rule).
    """
    if bucket_size < 1:
        raise ValueError("bucket_size must be >= 1")
    digest = content_digest(F.col(text_col))
    base = (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col).alias("__id__"), digest.alias("__fp__")))
    firsts = base.groupBy("__fp__").agg(F.min("__id__").alias("__keep__"))
    flagged = (base.join(firsts, "__fp__")
               .select("__id__",
                       (F.col("__id__") > F.col("__keep__"))
                       .cast("int").alias("__dup__")))
    return (flagged
            .groupBy((F.col("__id__") - F.col("__id__") % bucket_size)
                     .cast("long").alias("bucket_start"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("__dup__").cast("long").alias("n_dups"),
                 ppm(F.sum("__dup__").cast("decimal(38,0)"),
                     F.count(F.lit(1)).cast("decimal(38,0)"))
                  .alias("dup_ppm")))


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold_ppm: int = 800_000,
    max_gram_df: typing.Optional[int] = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b, containment_ppm) for pairs whose
    n-gram CONTAINMENT — |A∩B| / min(|A|, |B|) — reaches
    ``threshold_ppm`` parts-per-million (id_a < id_b). The
    quote-inclusion detector Jaccard structurally misses: when a short
    document is wholly embedded in a much longer one (syndicated
    article + wrapper page, quoted post + thread, license text +
    source file), Jaccard = |A|/|B| tends to 0 as the wrapper grows
    while containment stays 1. LLM-corpus pipelines dedup on BOTH
    (Lee et al. 2022 dedup uses containment-style overlap for exactly
    this case).

    Same inverted index as ngram_jaccard_pairs (one shared builder:
    persisted gram frame and sizes, hot-gram cap, co-partitioned
    self-join); the threshold compare is the integer
    cross-multiplication ``1e6 * n_common >= threshold_ppm *
    least(n_a, n_b)`` — no float division anywhere, so any SQL engine
    reproduces the cut exactly. ``containment_ppm`` reports
    floor(1e6 * common / least) for ranking. ``max_gram_df`` is the
    standard hot-shingle cap (groupBy-count + join, never a window);
    a dropped hot gram still counts in n_a/n_b so capped containment
    is a lower bound — the conservative direction.

    Scale shape at 10^12 docs: corpus bytes never shuffle (grams
    collapse to their 32-hex md5 via gram text only inside scan
    tasks); the self-join fan-out is bounded by the df cap exactly as
    in the Jaccard path.
    """
    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError("threshold_ppm must be in (0, 1e6]")
    small = F.least(F.col("n_a"), F.col("n_b"))
    return (
        _gram_overlap(df, text_col, id_col, n, max_gram_df)
        .where(F.col("n_common") * 1_000_000 >= F.lit(threshold_ppm) * small)
        .select(
            "id_a", "id_b", "n_common", "n_a", "n_b",
            ppm(F.col("n_common").cast("decimal(38,0)"), small.cast("decimal(38,0)"))
             .alias("containment_ppm"),
        )
    )


def source_dup_matrix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    *,
    max_sources_per_content: typing.Optional[int] = 1000,
) -> DataFrame:
    """(source_a, source_b, n_shared, n_a, n_b, share_ppm) — for every
    ordered source pair (a < b lexicographically), how many distinct
    CONTENTS (normalized-md5, the exact_duplicate_ids key) appear in
    both, plus each source's distinct-content count and
    floor(1e6 * shared / least(n_a, n_b)). The provenance question
    behind a duplication spike: WHICH feed is mirroring which —
    syndication networks, a scraper crawling the same CDN twice under
    different source labels, a vendor reselling another's dump.
    dedup says "these rows repeat"; this says "source X is 90%
    contained in source Y, stop paying for X".

    Scale shape at 10^12 docs: corpus bytes never shuffle — rows
    collapse to (digest, source) distinct pairs via one
    map-side-combined agg; the per-digest self-join is bounded by
    ``max_sources_per_content`` (standard groupBy-count + broadcast
    anti-join cap, default 1000: a content present in MORE distinct
    sources than that is universal boilerplate whose pair explosion
    is quadratic and whose signal is nil; ``None`` = exact). Output
    is O(sources^2) worst case — sources are a bounded catalog
    dimension, not a data-scale one.
    """
    digest = content_digest(F.col(text_col))
    pairs = (
        df.where(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(digest.alias("__d__"), F.col(source_col).alias("__s__"))
        .groupBy("__d__", "__s__")
        .agg(F.count(F.lit(1)).alias("__dummy__"))
        .select("__d__", "__s__")
    )
    # persist BEFORE the cap derivation: the hot-content count, the
    # anti-join, the size agg and both self-join sides all read the one
    # cached distinct frame — otherwise the corpus-scanning distinct agg
    # re-runs per consumer
    pairs = hold(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    [pairs] = drop_hot_keys([pairs], "__d__", max_sources_per_content)
    # (no co-partition-and-cache: measured slower, see banding.bucket_pairs)
    sizes = pairs.groupBy("__s__").agg(F.count(F.lit(1)).alias("n_contents"))
    a = pairs.select("__d__", F.col("__s__").alias("source_a"))
    b = pairs.select("__d__", F.col("__s__").alias("source_b"))
    shared = (
        a.join(b, "__d__")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("__s__").alias("source_a"), F.col("n_contents").alias("n_a"))
    sb = sizes.select(F.col("__s__").alias("source_b"), F.col("n_contents").alias("n_b"))
    small = F.least(F.col("n_a"), F.col("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            ppm(F.col("n_shared").cast("decimal(38,0)"), small.cast("decimal(38,0)"))
             .alias("share_ppm"),
        )
    )


def canonical_representatives(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    order_cols: typing.Sequence[str],
    *,
    payload_cols: typing.Sequence[str] = (),
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    pairs_are_stars: bool = False,
) -> DataFrame:
    """One BEST row per duplicate cluster: close ``pairs`` into
    connected components, label every row of ``df`` with its cluster
    (rows in no pair are their own singleton cluster), and pick per
    cluster the row with the lexicographically greatest ``order_cols``
    tuple — quality score, recency, resolution, whatever "best" means
    to the corpus. Training-set dedup wants THIS, not keep-first: when
    a document survives deduplication, keep the longest / cleanest /
    highest-resolution copy, not whichever crawled first
    (exact_duplicate_ids / duplicate_clusters implement the reference's
    keep='first' policy, validation.py:351-364; this is the curation
    policy layered on the same cluster structure).

    Output: (cluster_id, id, *order_cols, *payload_cols, n_members).
    ``cluster_id`` is the component's minimum id (the
    connected_components convention), n_members the cluster size.

    Determinism contract: the id rides the comparison struct right
    after ``order_cols`` (before any payload), so order-tuple ties
    resolve to the LARGEST id and payload fields never decide a winner
    (keep_latest's lexicographic-struct rule, tiebreak built in).
    Order columns should be non-null.

    Scale shape at 10^12 docs: the cluster map is O(rows-in-pairs) —
    the star rounds cut lineage eagerly (connected_components) — and
    joins back to ``df`` on the id; the argmax is keep_latest's
    map-side-combined ``max(struct(...))`` hash agg fused with the
    ``count(*)`` in ONE exchange: no window ever sorts a hot cluster
    through one task, and payload bytes ride the shuffle exactly once
    (one candidate row per mapper per cluster).
    """
    from .graph import connected_components

    order_cols = list(order_cols)
    payload_cols = list(payload_cols)
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    if pairs_are_stars:
        # fast path for pair sets that are ALREADY a star forest rooted
        # at each component's minimum id — exact_duplicate_ids emits
        # (id, keep_id = min id of the digest group), which is
        # transitively closed by construction. The cluster map is then
        # the edge list itself plus the roots' self-rows: no canon
        # distinct, no eager checkpoint, no star-forest convergence job
        # (measured 0.73 -> 0.49 s on the sf0.1 exact-dup graph,
        # identical rows). The slim 2-long-column pair frame is
        # persisted because both union branches read it. Caller
        # contract: ONLY set this when every edge's smaller endpoint is
        # its component's root — arbitrary pair sets (jaccard/LSH
        # output) must keep the connected_components closure.
        p = hold(pairs.persist(StorageLevel.MEMORY_AND_DISK))
        lo, hi = F.least(id_a, id_b), F.greatest(id_a, id_b)
        cc = (
            p.select(hi.alias("id"), lo.alias("cluster_id"))
            .unionAll(p.select(lo.alias("id"), lo.alias("cluster_id")))
            .distinct()
        )
    else:
        cc = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    labeled = (
        df.join(cc.withColumnRenamed("id", "__cc_id__"),
                F.col(id_col) == F.col("__cc_id__"), "left")
        .withColumn("cluster_id",
                    F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .drop("__cc_id__")
    )
    extras = [c for c in payload_cols
              if c not in order_cols and c != id_col]
    packed = F.max(F.struct(
        *[F.col(c) for c in order_cols],
        F.col(id_col).alias("__id__"),
        *[F.col(c) for c in extras]))
    agg = labeled.groupBy("cluster_id").agg(
        packed.alias("__top__"),
        F.count(F.lit(1)).cast("long").alias("n_members"))
    return agg.select(
        "cluster_id",
        F.col("__top__.__id__").alias(id_col),
        *[F.col("__top__." + c).alias(c) for c in order_cols + extras],
        "n_members")


def windowed_duplicate_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int,
    max_content_df: typing.Optional[int] = 100_000,
) -> DataFrame:
    """(id, prev_id, gap) for rows whose normalized content was last
    seen at most ``window`` id-units earlier — TIME-SCOPED dedup: a
    page re-crawled the same week is a duplicate to drop, the same
    page re-crawled six months later is a legitimately fresh snapshot
    (news sites, wikis, dashboards — content recurrence is only
    duplication within a freshness horizon). exact_duplicate_ids
    implements the reference's global keep-first policy
    (validation.py:351-364); this is the retention-policy variant
    layered on the same md5 content identity, flagging against the
    NEAREST previous occurrence (not the first: A at t0, B at t0+W-1,
    C at t0+W+1 flags B against A and C against B — a chain of stale
    re-crawls never launders itself by pointing at an expired
    original).

    Scale shape at 10^12 docs: rows collapse to (id, digest) inside
    the scan; ONE hash(digest) exchange feeds the lag window (each
    content's occurrence list sorts within its partition — bounded by
    ``max_content_df``, the standard groupBy-count + broadcast
    anti-join hot-key cap, default 100k: a content recurring more
    often is boilerplate, not a re-crawl; ``None`` = exact). Output is
    O(flagged rows); corpus bytes never shuffle.
    """
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("window must be >= 1")
    [base] = drop_hot_keys(
        [window_fingerprints(df, text_col, id_col)], "fingerprint", max_content_df)
    w = Window.partitionBy("fingerprint").orderBy("id")
    return (base
            .withColumn("prev_id", F.lag("id").over(w))
            .where(F.col("prev_id").isNotNull()
                   & ((F.col("id") - F.col("prev_id")) <= window))
            .select("id", "prev_id",
                    (F.col("id") - F.col("prev_id")).alias("gap")))


def window_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The (id, fingerprint) projection windowed_duplicate_ids and
    incremental_window_duplicates share — ONE digest rule
    (``text.content_digest``, md5 of normalized text), the _banded_sigs
    convention: incremental equals batch only because both sides
    fingerprint identically, so the rule lives in exactly one place.
    This is also the slim frame to persist
    warehouse-side as the store (16-byte digest + id per row; corpus
    bytes stay in the scan task)."""
    digest = content_digest(F.col(text_col))
    return (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col).alias("id"), digest.alias("fingerprint")))


def incremental_window_duplicates(
    new_df: DataFrame,
    store_fps: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int,
    max_content_df: typing.Optional[int] = 100_000,
) -> DataFrame:
    """Incremental time-scoped dedup: the daily-ingest form of
    :func:`windowed_duplicate_ids` (the incremental_lsh_pairs /
    acoustic_incremental_pairs convention applied to the freshness
    window). ``store_fps`` is the persisted (id, fingerprint) frame
    :func:`window_fingerprints` emits — the store's TEXTS are never
    re-read or re-hashed; only the new batch pays the normalize->md5
    projection. Emits (id, prev_id, gap) for NEW rows whose content was
    last seen at most ``window`` id-units earlier, where the nearest
    previous occurrence may sit in the store (a re-crawl of yesterday's
    page) or earlier in the new batch itself (an intra-day re-crawl) —
    store-internal flags were yesterday's run and are never re-reported.

    Batch equivalence (what the oracle attests): the result equals
    ``windowed_duplicate_ids(store_texts UNION new_texts)`` restricted
    to new-batch ids, because fingerprints come from the shared rule
    and the hot-content cap counts over the UNION of both sides (so a
    boilerplate content is dropped wholesale from both — never capped
    on one side only). Append ``window_fingerprints(new_df, ...)`` to
    the store after the run.

    Id contract: ids are unique within each side (they are ingest
    ordinals). A CROSS-side collision — the same id on both sides, a
    replayed ingest — is handled deterministically: the window orders
    (id, side) with the store row first, so a same-id same-content
    re-ingest flags the NEW row against its store twin with gap 0
    (a replay of known content is a duplicate; an arbitrary per-task
    tie-break here would make the run nondeterministic, the
    SPARK-23207 class of hazard the salted-join rule exists for).

    Scale shape at a 10^12-row store: both sides are slim (id, 16-byte
    digest) rows; ONE hash(fingerprint) exchange feeds the lag window
    (per-content occurrence lists bounded by the cap); output is
    O(flagged new rows); corpus bytes never shuffle on either side.
    """
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("window must be >= 1")
    new_fp = window_fingerprints(new_df, text_col, id_col)
    union = (store_fps.select("id", "fingerprint", F.lit(0).alias("__new__"))
             .unionByName(new_fp.select(
                 "id", "fingerprint", F.lit(1).alias("__new__"))))
    [union] = drop_hot_keys([union], "fingerprint", max_content_df)
    # secondary sort on the side flag: store (0) before new (1) at equal
    # id — the deterministic replayed-ingest rule from the docstring
    w = Window.partitionBy("fingerprint").orderBy("id", "__new__")
    return (union
            .withColumn("prev_id", F.lag("id").over(w))
            .where((F.col("__new__") == 1)
                   & F.col("prev_id").isNotNull()
                   & ((F.col("id") - F.col("prev_id")) <= window))
            .select("id", "prev_id",
                    (F.col("id") - F.col("prev_id")).alias("gap")))


def gram_overlap_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_gram_df: int = 10,
) -> DataFrame:
    """Per-document common-material score: (id, n_grams, n_common,
    overlap_ppm) where ``n_common`` counts the doc's distinct word
    n-grams that appear in at least ``min_gram_df`` documents
    corpus-wide. The document-granular answer to "how much of this doc
    is stock phrasing" — the memorization-risk / near-dup-contamination
    score corpus curation ranks by (a doc that is 95% corpus-common
    trigrams adds nothing to training even if no single pair-wise match
    fires), and the n-gram analogue of boilerplate_scan's line rule
    (E142): lines catch templates, grams catch phrase-level borrowing
    that never fills a whole line. Pairwise operators
    (ngram_jaccard_pairs / containment_pairs) answer "which pairs";
    this is O(docs) output with no self-join at all.

    Scale shape at 10^12 docs: the shared doc_grams projection
    (codegen shingles) feeds BOTH the gram document-frequency agg and
    the join-back, so it is persisted (held by the caller's
    ``resources.scope``); what shuffles is the exploded
    (id, gram) frame once for the df agg — with map-side combine — and
    once for the final per-doc count; no pair explosion anywhere, so
    no hot-gram cap is needed (a hot gram costs one counter row, not
    df^2 pairs).
    """
    if min_gram_df < 2:
        raise ValueError("min_gram_df must be >= 2")
    grams = hold(doc_grams(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK))
    gdf = (grams.groupBy("gram")
           .agg(F.count(F.lit(1)).alias("__df__"))
           .where(F.col("__df__") >= min_gram_df)
           .select("gram", F.lit(1).alias("__hot__")))
    flagged = grams.join(gdf, "gram", "left")
    out = (flagged.groupBy("id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.coalesce(F.col("__hot__"), F.lit(0)))
                 .cast("long").alias("n_common"),
                ppm(F.sum(F.coalesce(F.col("__hot__"), F.lit(0))).cast("decimal(38,0)"),
                    F.count(F.lit(1)).cast("decimal(38,0)"))
                 .alias("overlap_ppm")))
    return out
