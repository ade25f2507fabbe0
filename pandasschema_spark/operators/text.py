"""Text-analysis operators for large-scale training-data pipelines.

Engine extensions (no reference analog — SURVEY.md §2.4): the reference
validates CSV-sized frames; a 100 TB documents table additionally needs
language-ID, quality scoring, token counting and fingerprinting as
first-class, shuffle-free columnar operators.

All operators here compile to native Catalyst expressions (split /
regexp_replace / regexp_count / md5) — whole-stage codegen, zero Python
in the hot path, no shuffle: each is a narrow projection that scales
linearly with executors and leaves predicate pushdown / column pruning
intact (only ``text`` + the id column are read from Parquet). No
higher-order array functions (F.filter/F.transform lambdas): those are
CodegenFallback and drop the whole projection to interpreted mode —
tests/test_plan_quality.py asserts the property for these operators.
"""

from __future__ import annotations

import collections
import re
import typing

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from ..frames import row_map
from ..functions.exact import ppm
from ..resources import hold

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_tokens) — whitespace token count."""
    return df.select(
        F.col(id_col),
        F.size(tokens_expr(F.col(text_col))).cast("long").alias("n_tokens"),
    )


def bpe_ish_token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_subtokens) — BPE-ish subword proxy: count of maximal runs of
    word characters plus isolated punctuation marks (the usual pre-tokenizer
    regex family), entirely via a native regexp split."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"), 0)
    return df.select(F.col(id_col), F.size(pieces).cast("long").alias("n_subtokens"))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def token_marker_count_expr(text: Column, markers: typing.List[str]) -> Column:
    """Count of whitespace tokens of ``lower(text)`` that exactly equal one
    of ``markers``, as a single native regexp_count — NO higher-order array
    functions (F.filter/F.transform lambdas are CodegenFallback and force
    the whole projection interpreted, the 4x regression documented in
    plans/compiler.py; tests/test_plan_quality.py guards this module too).

    Equivalence to "count tokens t with lower(t) in markers": the text is
    lowercased, whitespace-collapsed and space-padded, so every token is
    delimited by single spaces; the zero-width lookarounds make adjacent
    marker tokens both match (nothing is consumed around the token body)."""
    padded = F.concat(
        F.lit(" "), F.regexp_replace(F.lower(text), r"\s+", " "), F.lit(" ")
    )
    # \Q..\E-quote each marker: tokens are compared LITERALLY ('c++',
    # 'u.s.' must not be parsed as regex syntax / wildcards). A marker
    # that itself contains the two-char sequence \E would end the quote
    # region early — standard Pattern.quote handling: close the region,
    # emit an escaped backslash + E, reopen (\E -> \E\\E\Q).
    quoted = ["\\Q{}\\E".format(m.replace("\\E", "\\E\\\\E\\Q"))
              for m in sorted(markers, key=len, reverse=True)]
    pattern = "(?<= )(?:{})(?= )".format("|".join(quoted))
    return F.regexp_count(padded, F.lit(pattern)).cast("long")


def quality_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality counters, all integer-valued (exactly portable
    across engines): character length, token count, punctuation count,
    digit count, uppercase count, stopword-token count.

    Downstream quality *scores* (ratios) are trivial arithmetic over these;
    keeping the operator integral makes it bit-reproducible for oracles.
    """
    text = F.col(text_col)
    toks = tokens_expr(text)
    return df.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(text, r"[^.!?,;:]", "")).cast("long").alias("n_punct"),
        F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("long").alias("n_digits"),
        F.length(F.regexp_replace(text, r"[^A-Z]", "")).cast("long").alias("n_upper"),
        token_marker_count_expr(text, _STOPWORDS).alias("n_stopwords"),
    )


# ---------------------------------------------------------------------------
# language identification (n-gram / stopword heuristic)
# ---------------------------------------------------------------------------

#: tiny per-language marker lexicons; a hit = a whole token equal to a marker.
LANG_MARKERS: typing.Dict[str, typing.List[str]] = {
    "en": ["the", "and", "is", "of", "to"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
}


def _lang_pred_exprs(text: Column):
    """(hit-count columns by lang, prediction column) — the ONE
    definition of the language rule, shared by lang_id and
    lang_confusion (the frame_silence/trim_bounds shared-rule
    convention: attested oracles transfer verbatim)."""
    hit_cols = {}
    for lang, markers in LANG_MARKERS.items():
        hit_cols[lang] = token_marker_count_expr(text, markers)
    has_cjk = text.rlike(r"[一-鿿]")
    best = F.lit("und")
    best_hits = F.lit(0).cast("long")
    for lang in ["es", "fr", "de", "en"]:  # later wins ties -> en highest priority
        best = F.when(hit_cols[lang] >= F.greatest(best_hits, F.lit(1)), F.lit(lang)).otherwise(best)
        best_hits = F.greatest(best_hits, hit_cols[lang])
    pred = F.when(has_cjk, F.lit("zh")).otherwise(best)
    return hit_cols, pred


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, hits_en, hits_de, hits_fr, hits_es, lang_pred).

    Counts marker-token hits per language over the token array (one pass,
    native), predicts the argmax with a deterministic tie order
    (en > de > fr > es > unknown); zero hits everywhere -> 'und'.
    CJK fallback: any char in the CJK block -> 'zh' regardless of hits.
    """
    hit_cols, pred = _lang_pred_exprs(F.col(text_col))
    return df.select(
        F.col(id_col),
        hit_cols["en"].alias("hits_en"),
        hit_cols["de"].alias("hits_de"),
        hit_cols["fr"].alias("hits_fr"),
        hit_cols["es"].alias("hits_es"),
        pred.alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def normalized_text_expr(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed
    to single spaces, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def content_digest(text: Column) -> Column:
    """The content identity of a text: md5 hex of its UTF-8
    ``normalized_text_expr``. ``fingerprint`` and dedup's
    exact_duplicate_ids, duplication_rate, source_dup_matrix and
    window_fingerprints all key on this one rule, so a batch run and
    an incremental run that fingerprint separately agree digest for
    digest."""
    return F.md5(F.encode(normalized_text_expr(text), "UTF-8"))


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, fp) — md5 hex of the normalized text. The canonical content
    key for exact dedup: grouping by the 32-byte digest instead of the
    full text keeps the dedup shuffle narrow at 100 TB."""
    return df.select(
        F.col(id_col),
        content_digest(F.col(text_col)).alias("fp"),
    )


def top_terms(df: DataFrame, text_col: str, id_col: str, *,
              k: int = 5) -> DataFrame:
    """Keyword extraction: the top ``k`` terms per document ranked by
    tf/df (term frequency over corpus document frequency). This equals
    the tf*idf ranking for the LINEAR idf variant idf = N/df (the key
    is N * tf/df); it is NOT the standard log-idf ranking — log
    compresses df differences, so tf/df promotes rare-term singletons
    more aggressively (a tf=1/df=1 hapax outranks tf=8/df=9). Chosen
    deliberately: the log variant's ln() is not bit-reproducible across
    engines, while this key is; downstream code wanting log-idf can
    recompute any variant from the (tf, term_df) integers carried in
    the output.

    Exact cross-engine determinism: tf and df are integers and the
    ranking key tf/df is a single correctly-rounded IEEE division —
    identical in any engine — with ties broken by ascending term.
    Output carries the integers (tf, term_df) so downstream scoring
    recomputes any idf variant it wants.

    Scale shape: explode(tokens) -> (doc, term) hash-agg [shuffle 1] ->
    term df hash-agg over the (doc, term) pairs [shuffle 2, O(vocab)
    output] -> join back on term [co-partitioned with shuffle 2] ->
    per-doc top-k window [shuffle 3]. Token payloads shuffle once; the
    rest is pair/vocab traffic."""
    from pyspark.sql import Window

    norm = normalized_text_expr(F.col(text_col))
    pairs = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(tokens_expr(norm)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    w = Window.partitionBy("id").orderBy(
        (F.col("tf").cast("double") / F.col("term_df")).desc(), F.col("term"))
    return (
        pairs.join(dfs, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "term_df",
                F.col("rank").cast("long").alias("rank"))
    )


def edit_distance_pairs(
    df,
    text_col: str,
    id_col: str,
    pairs,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_chars: int = 64,
):
    """Levenshtein edit distance for candidate document pairs — the
    verify stage after a blocking stage (LSH/SimHash/embedding) proposes
    near-dups, and the transcript-vs-transcript check an audio QA
    pipeline runs on suspected re-reads.

    NEVER all-pairs: ``pairs`` (id_a, id_b) comes from a blocking
    operator, so the join traffic is O(candidates). Texts are truncated
    to ``max_chars`` first because Levenshtein is O(len^2) per pair —
    at 64 chars that is a bounded ~4k cell DP per pair, JVM-side
    (native ``levenshtein``, no Python). Two shuffles keyed by id to
    attach the texts (broadcast if the pair set is small).

    Engine-portable: Spark's and DuckDB's levenshtein both compute the
    classic unit-cost edit distance over code points."""
    t = df.select(F.col(id_col).alias("__eid__"),
                  F.substring(F.col(text_col), 1, max_chars).alias("__t__"))
    a = t.select(F.col("__eid__").alias(id_a), F.col("__t__").alias("__ta__"))
    b = t.select(F.col("__eid__").alias(id_b), F.col("__t__").alias("__tb__"))
    return (pairs.join(a, id_a).join(b, id_b)
            .select(id_a, id_b,
                    F.levenshtein("__ta__", "__tb__").alias("edit_dist")))


#: Conservative PII detectors written in the regex intersection of Java
#: (Spark) and RE2 (DuckDB): character classes, non-capturing groups and
#: bounded repeats only — no backrefs, no lookaround — so both engines
#: count the same non-overlapping leftmost matches.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "phone_e164": r"\+[0-9]{7,15}",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    patterns: typing.Optional[typing.Dict[str, str]] = None,
) -> DataFrame:
    """Per-document PII pattern counts — the redaction-queue feeder of a
    training-data pipeline: every document with at least one hit, with
    one ``n_<name>`` count per detector plus the total.

    Engine extension (no reference analog — SURVEY.md §2.5). One
    row-local projection fused into the scan: ``regexp_count`` per
    pattern (JVM regex, whole-stage codegen — no Python in the path,
    no higher-order functions), filter ``n_pii > 0``. At 10^12 docs the
    cost is the regex scan itself, embarrassingly parallel, zero
    shuffle; the output is the (typically tiny) violation set. Detectors
    are counts, not extractions — the PII text itself never leaves the
    scan, so the result set is safe to persist broadly.

    NULL text scans as zero hits (excluded by the n_pii > 0 filter)."""
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("pii_scan needs at least one pattern")
    if "pii" in pats:
        # the total column is n_pii — a detector named 'pii' would have
        # its per-detector count silently overwritten by the total
        raise ValueError("detector name 'pii' is reserved for the total")
    t = F.col(text_col)
    counts = [
        F.when(t.isNotNull(),
               F.regexp_count(t, F.lit(p))).otherwise(F.lit(0))
        .cast("long").alias("n_{}".format(name))
        for name, p in pats.items()
    ]
    out = df.select(F.col(id_col), *counts)
    total = None
    for name in pats:
        c = F.col("n_{}".format(name))
        total = c if total is None else total + c
    return (out.withColumn("n_pii", total.cast("long"))
            .where(F.col("n_pii") > 0))


def oov_scan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: typing.Iterable[str],
) -> DataFrame:
    """Closed-vocabulary validation: ``(id, n_tokens, n_oov)`` where
    ``n_oov`` counts whitespace tokens of ``lower(text)`` outside
    ``vocab`` — the transcript-closure / tokenizer-coverage gate (a
    speech corpus whose transcripts must stay inside the acoustic-model
    lexicon, a synthetic corpus that must stay inside its template
    vocabulary).

    The vocabulary compiles into ONE ``\\Q``-quoted alternation regex
    (token_marker_count_expr), so the whole scan is a row-local
    codegen-clean projection fused into the file scan: zero shuffle, no
    UDF, no explode. ``n_oov = n_tokens - n_in_vocab``. This is the
    BOUNDED-vocab form (alternation size ~ vocabulary bytes, fine to a
    few thousand entries); open vocabularies take the explode +
    broadcast-anti-join route instead. Rows with NULL text drop out
    (NULL arithmetic — a null transcript is the notnull check's
    finding); empty text counts 0 tokens and is clean. Output is the
    violating rows only (``n_oov > 0``)."""
    words = sorted({w.lower() for w in vocab})
    if not words:
        raise ValueError("vocab must be non-empty")
    text = F.col(text_col)
    nt = F.size(tokens_expr(text)).cast("long")
    inv = token_marker_count_expr(text, words)
    return df.select(
        F.col(id_col),
        nt.alias("n_tokens"),
        (nt - inv).alias("n_oov"),
    ).where(F.col("n_oov") > 0)


#: Java-regex \s (what normalized_text_expr's regexp_replace collapses):
#: ASCII whitespace only — Python's str.split() would also split unicode
#: spaces and silently diverge from the SQL engines on non-ASCII corpora
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def doc_repetition(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition profile (the Gopher-style repetitious-text
    gate): ``(id, n_tokens, n_types, top_count, max_run)`` — token total,
    distinct-token count, the most-repeated token's occurrence count, and
    the longest run of consecutive identical tokens. All raw integers;
    the caller derives ratio filters (``top_count/n_tokens``,
    ``n_types/n_tokens``) downstream at its own precision.

    Scale shape: the metrics are row-local, so this is ONE narrow Arrow
    pass (``row_map`` over just (id, text)) with ZERO shuffle — the
    alternative, explode + two groupBys, ships every token of a 100 TB
    corpus through an exchange keyed (doc, token). Inside a batch the
    per-doc loop is a numpy/Counter kernel (same irreducible-inner-loop
    precedent as operators/audio.py — never per-row Python at the Spark
    layer). Tokenization mirrors normalized_text_expr byte-for-byte:
    lowercase, ASCII-\\s collapse, trim; docs whose normalized text is
    NULL or empty emit no row."""
    import numpy as np

    id_field = df.schema[id_col]
    out_schema = T.StructType([
        T.StructField(id_field.name, id_field.dataType, True),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("n_types", T.LongType(), False),
        T.StructField("top_count", T.LongType(), False),
        T.StructField("max_run", T.LongType(), False),
    ])

    def profile(i, t):
        if t is None:
            return
        # space-class strip only: bare str.strip() is Unicode-aware and
        # would drop a leading NBSP the SQL tokenization rule keeps
        toks = _WS_RE.split(str(t).lower().strip(" \t\n\x0b\f\r"))
        if toks == [""]:
            return
        counts = collections.Counter(toks)
        if len(toks) == 1:
            max_run = 1
        else:
            arr = np.asarray(toks, dtype=object)
            # boundaries of equal-runs: positions where the token
            # changes, padded with the ends
            chg = np.flatnonzero(arr[1:] != arr[:-1])
            edges = np.concatenate(([-1], chg, [len(arr) - 1]))
            max_run = int(np.max(np.diff(edges)))
        yield (i, len(toks), len(counts), max(counts.values()), max_run)

    return row_map(df, [id_col, text_col], out_schema, profile)


def collocations(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    min_lift: int = 2,
) -> DataFrame:
    """Corpus collocation mining: adjacent word pairs whose observed
    co-occurrence beats independence by at least ``min_lift`` — the
    phrase/template detector (boilerplate discovery, tokenizer-merge
    candidates, prompt-injection template hunting) over a document
    corpus.

    Output (w1, w2, c_xy, c_x, c_y, n_tokens): the bigram occurrence
    count, each word's unigram occurrence count, and the corpus token
    total — RAW integer counts only, no division anywhere, so the frame
    is engine-exact and the caller derives float PMI/lift downstream at
    whatever precision it likes. The lift gate is applied as a
    decimal(38) cross-multiplication (``c_xy * N >= min_lift * c_x *
    c_y``): exact up to 10^38, no int64 product overflow at any corpus
    size that fits this universe.

    Scale shape: tokens and bigrams are codegen-clean row-local
    projections (split + the space-pad/lookbehind regexp the shingle
    stack already uses — no HOF lambdas); each explodes into a
    map-side-combined hash-agg, so the shuffles carry the VOCABULARY
    and the distinct-bigram set, never per-token rows; the two unigram
    joins key on the word (vocabulary-sized, broadcastable for bounded
    vocabularies) and the token total rides a broadcast single row.
    ``min_count`` prunes the bigram tail before the joins."""
    if min_count < 1 or min_lift < 1:
        raise ValueError("min_count and min_lift must be >= 1")
    norm = normalized_text_expr(F.col(text_col))
    toks = df.select(F.explode(F.split(norm, " ")).alias("w")) \
        .where(F.col("w") != "")
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").cast("long").alias("n_tokens"))
    # all consecutive pairs (occurrences, NOT distinct-per-doc): the
    # overlapping-bigram lookbehind regex over space-padded text
    bi = df.select(F.explode(F.regexp_extract_all(
        F.concat(F.lit(" "), norm),
        F.lit(r"(?<= )(?=(\S+ \S+))"), 1)).alias("g"))
    pair = (bi.select(
                F.substring_index("g", " ", 1).alias("w1"),
                F.substring_index("g", " ", -1).alias("w2"))
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
            .where(F.col("c_xy") >= min_count))
    out = (pair
           .join(uni.select(F.col("w").alias("w1"),
                            F.col("c").alias("c_x")), "w1")
           .join(uni.select(F.col("w").alias("w2"),
                            F.col("c").alias("c_y")), "w2")
           .crossJoin(F.broadcast(total)))
    dec = "decimal(38,0)"
    keep = (F.col("c_xy").cast(dec) * F.col("n_tokens").cast(dec)
            >= F.lit(min_lift).cast(dec)
            * (F.col("c_x").cast(dec) * F.col("c_y").cast(dec)))
    return out.where(keep).select(
        "w1", "w2", F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"), "n_tokens")


def text_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    size: int = 2048,
    stride: int = None,
) -> DataFrame:
    """Fixed-size overlapping character windows — the text analogue of
    audio ``segment`` for training-window prep: (id, chunk_idx,
    chunk_start, chunk_text, n_chars).

    Chunk rule (mirrors segment's hop form): documents with
    len >= ``size`` emit ``(len - size) // stride + 1`` windows starting
    at ``i * stride`` (the tail past the last full window is dropped,
    exactly like audio frames); shorter non-empty documents emit their
    whole text as chunk 0 (a short document is still a training row —
    the same fallback convention as the n-gram shingles); NULL/empty
    text emits nothing.

    Scale shape: row-local explode of an integer ``sequence`` (a regular
    codegen expression, not a lambda HOF) + substring — the planned row
    expansion IS the output; no shuffle, text never leaves its
    partition, and the parquet scan prunes to (id, text).
    """
    if size < 1:
        raise ValueError("size must be >= 1")
    stride = size if stride is None else stride
    if stride < 1:
        raise ValueError("stride must be >= 1")
    text = F.col(text_col)
    n = F.length(text)
    n_chunks = F.when(n >= size, (n - size) / stride + 1).otherwise(
        F.when(n > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    out = (
        df.select(F.col(id_col), text.alias("__t"), n_chunks.alias("__k"))
        .where(F.col("__k") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("__k") - 1)).alias("chunk_idx"),
            F.col("__t"),
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
            F.substring(F.col("__t"), F.col("chunk_idx") * stride + 1, size).alias("chunk_text"),
        )
    )
    return out.withColumn("n_chars", F.length("chunk_text").cast("long"))


def encoding_scan(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encoding-anomaly scan: (id, n_replacement, n_control) per document
    carrying mojibake evidence — U+FFFD replacement characters (the scar
    a lossy decode leaves) or C0/DEL control bytes other than tab/LF/CR
    (the scar a binary-in-text column leaves). Clean documents emit
    nothing. The cheap pre-tokenizer gate: one replacement char means the
    upstream charset guess was wrong for the WHOLE document, and token
    statistics downstream of it are garbage.

    Row-local ``regexp_count`` over plain character classes (Java-regex /
    RE2 intersection, shared literally with the oracle) fused into the
    scan — zero shuffle, no UDF, no HOF lambdas (codegen-clean). NULL
    text drops (the notnull check's finding).
    """
    rep = F.regexp_count(F.col(text_col), F.lit("�"))
    # class starts at \x01: a raw NUL cannot ride in a SQL string
    # literal, so the cross-engine oracle could never express it — and a
    # NUL inside a parquet string is its own (writer-level) corruption
    ctl = F.regexp_count(
        F.col(text_col),
        F.lit("[\x01-\x08\x0b\x0c\x0e-\x1f\x7f]"),
    )
    out = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            rep.cast("long").alias("n_replacement"),
            ctl.cast("long").alias("n_control"),
        )
    )
    return out.where((F.col("n_replacement") > 0) | (F.col("n_control") > 0))


def vocab_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bucket_size: int = 1000,
) -> DataFrame:
    """Vocabulary-novelty timeline: per ``bucket_size``-id ingestion
    bucket, how many distinct word types appear, how many are NEW
    (first seen in this bucket, by min bucket over the whole corpus),
    and the novelty share — the Heaps-law growth curve. A healthy
    crawl keeps discovering vocabulary; a novelty collapse is the
    content-level fingerprint of templating, boilerplate floods or a
    looping source that byte-level duplication_rate misses (pages can
    be byte-distinct while saying nothing new).

    Tokens are lowercase ``[a-z0-9]+`` runs (a plain character-class
    regexp both engines implement identically; no HOF, no UDF).

    Output per bucket: (bucket_start, n_tokens, n_types, n_new_types,
    novelty_ppm = 1e6 * new div types).

    Scale shape at 10^12 docs: the exploded tokens reduce immediately
    through a map-side-combined (bucket, token) hash agg — the only
    row multiplication is explode-before-partial-agg inside each
    scan task, and what shuffles is O(distinct (bucket, token)), not
    occurrences. First-seen buckets are a second tiny agg over that
    frame keyed (token), joined back aggregate-to-aggregate.
    """
    if bucket_size < 1:
        raise ValueError("bucket_size must be >= 1")
    bucket = (F.col(id_col) - F.col(id_col) % bucket_size).cast("long")
    tok = (df.where(F.col(text_col).isNotNull())
             .select(bucket.alias("__b__"),
                     F.explode(F.regexp_extract_all(
                         F.lower(F.col(text_col)),
                         F.lit("[a-z0-9]+"), 0)).alias("__t__")))
    per = (tok.groupBy("__b__", "__t__")
              .agg(F.count(F.lit(1)).alias("__c__")))
    firsts = per.groupBy("__t__").agg(F.min("__b__").alias("__fb__"))
    return (per.join(firsts, "__t__")
            .groupBy(F.col("__b__").alias("bucket_start"))
            .agg(F.sum("__c__").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum((F.col("__b__") == F.col("__fb__")).cast("int"))
                  .cast("long").alias("n_new_types"),
                 ppm(F.sum((F.col("__b__") == F.col("__fb__")).cast("int"))
                     .cast("decimal(38,0)"),
                     F.count(F.lit(1)).cast("decimal(38,0)"))
                  .alias("novelty_ppm")))


def boilerplate_scan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_doc_freq: int = 10,
) -> DataFrame:
    """Line-level boilerplate profile: per document, how many of its
    distinct non-empty lines are BOILERPLATE — lines whose normalized
    form appears in at least ``min_doc_freq`` distinct documents
    (cookie banners, nav menus, "subscribe" footers, license headers).
    The CCNet-style paragraph-frequency filter LLM corpus pipelines
    run before training: document-level dedup (exact_duplicate_ids,
    LSH) can't see it, because every DOCUMENT is unique while half of
    each document is the same template. Reference scope: this extends
    the reference's whole-cell checks (validation.py:149-419 operate
    per value) to intra-value structure.

    Line identity = md5 of the normalized line (lowercase, whitespace
    collapsed, trimmed — the exact_duplicate_ids convention, applied
    per line after splitting on newline). Empty lines carry no
    content and are dropped. A line repeated within one document
    counts that document ONCE toward doc-frequency.

    Output: (id, n_lines, n_boiler, boiler_ppm) — distinct normalized
    lines, how many are boilerplate, and the floor-division ppm share.
    Only documents with at least one non-empty line appear.

    Scale shape at 10^12 docs: corpus bytes never shuffle — lines
    normalize, dedup per-document (row-locally: array_distinct over the
    normalized split, no per-line shuffle) and collapse to 32-hex
    digests inside the scan task; the ONLY data-sized exchanges are the
    map-side-combined per-digest doc counts and the per-doc result agg. The boilerplate
    dictionary is bounded by total_lines / min_doc_freq and joins
    back broadcast, so it must fit Spark's per-relation broadcast limit
    (8 GB); a larger dictionary (low thresholds over huge corpora)
    fails the job with Spark's broadcast error, with no shuffle
    fallback. The distinct (doc, digest) frame feeds
    BOTH the frequency agg and the join-back, so it is persisted —
    without it the split+normalize+md5 pipeline scans the corpus twice
    (measured in PLANS.md before this persist).
    """
    if min_doc_freq < 2:
        raise ValueError("min_doc_freq must be >= 2")
    # per-document line DISTINCTNESS is computed ROW-LOCALLY: normalize
    # the whole text once (collapse non-newline whitespace, strip the at
    # most one space now bordering each newline, trim the string ends),
    # split, array_distinct, drop empties — all native codegen-clean
    # expressions (no HOF lambda), byte-equivalent to the former
    # per-line trim(regexp_replace(lower(line), \s+, ' ')) rule
    # (differential-fuzzed over NBSP/\r/\x0b/\x0c/tab/multi-newline
    # corpora). This deletes what was the operator's LARGEST exchange:
    # the groupBy(id, digest) distinct over the full per-line pair
    # frame; the md5 applies after the row-local explode, so what
    # remains shuffling is one doc-count agg over distinct digests.
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, r"[^\S\n]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.trim(t)
    arr = F.array_remove(F.array_distinct(F.split(t, "\n")), "")
    pairs = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(arr).alias("__n__"))
        .select("id", F.md5(F.encode(F.col("__n__"), "UTF-8")).alias("__d__"))
    )
    from pyspark.storagelevel import StorageLevel
    pairs = hold(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    boiler = F.broadcast(
        pairs.groupBy("__d__")
        .agg(F.count(F.lit(1)).alias("__df__"))
        .where(F.col("__df__") >= min_doc_freq)
        .select("__d__", F.lit(1).alias("__hot__"))
    )
    flagged = pairs.join(boiler, "__d__", "left")
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.coalesce(F.col("__hot__"), F.lit(0))).cast("long").alias("n_boiler"),
            ppm(
                F.sum(F.coalesce(F.col("__hot__"), F.lit(0))).cast("decimal(38,0)"),
                F.count(F.lit(1)).cast("decimal(38,0)")
            ).alias("boiler_ppm"),
        )
    )


def sequence_pack(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    context_len: int,
    bucket_size: int = 1 << 20,
) -> DataFrame:
    """Global token-offset map + context-window chunk spans — the
    concat-and-chunk bookkeeping of LLM pretraining ("documents are
    concatenated in id order and sliced into ``context_len``-token
    sequences; which sequences does doc X land in?"). Per document:
    (id, n_tokens, tok_offset, chunk_first, chunk_last, n_chunks),
    where ``tok_offset`` is the document's start position in the global
    token stream (tokens = ``token_count``'s whitespace rule; NULL text
    occupies zero tokens) and the span is pure integer division on top:
    chunk_first = off div L, chunk_last = (off + n - 1) div L
    (zero-token documents span nothing: NULL/NULL/0).

    Contract: ``id_col`` must be a UNIQUE NON-NEGATIVE integer defining
    the concatenation order — at web scale the ingestion ordinal from
    plans/rowindex.with_file_ordered_row_index. Duplicate ids make the
    running sum order-ambiguous across engines; negative ids break the
    div bucketing (Spark ``div`` truncates toward zero, floor division
    would not — same family as the epoch floor-division invariant).

    Scale shape — a DISTRIBUTED prefix sum, never a global window: a
    no-partition running sum over the corpus plans one Exchange
    SinglePartition carrying every row through one task (the classic
    Spark window trap). Instead rows bucket by ``id div bucket_size``;
    per-bucket token totals reduce in one map-side-combined hash agg to
    O(buckets) rows (10^6 buckets at 10^12 docs with the 2^20 default);
    the bucket-prefix cumsum runs as a window over THAT aggregate frame
    only (the drift-histogram convention: single-partition windows are
    legal over already-aggregated data) and broadcast-joins back; the
    within-bucket running sum partitions by bucket, so the only
    corpus-wide exchange is one hash(bucket) shuffle of slim
    (id, n_tokens) rows with <= bucket_size rows per window partition.
    Text never shuffles — token counts are computed inside the scan
    task and only the two integer columns travel.
    """
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    if bucket_size < 1:
        raise ValueError("bucket_size must be >= 1")
    n_tok = F.coalesce(
        F.size(tokens_expr(F.col(text_col))).cast("long"), F.lit(0).cast("long"))
    slim = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.expr("CAST(`{}` AS BIGINT) div {}".format(id_col, bucket_size)).alias("__b__"),
    )
    # slim feeds BOTH the bucket-total aggregate and the broadcast-join
    # probe side; those branches share no reusable Exchange, so without
    # a persist the full text scan + tokenization runs twice per action
    from pyspark.storagelevel import StorageLevel

    slim = hold(slim.persist(StorageLevel.MEMORY_AND_DISK))
    bsum = slim.groupBy("__b__").agg(F.sum("n_tokens").alias("__bt__"))
    wb = Window.orderBy("__b__").rowsBetween(Window.unboundedPreceding, -1)
    base = bsum.select(
        "__b__",
        F.coalesce(F.sum("__bt__").over(wb), F.lit(0)).cast("long").alias("__base__"),
    )
    ww = (Window.partitionBy("__b__").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    within = F.coalesce(F.sum("n_tokens").over(ww), F.lit(0).cast("long"))
    off = (F.col("__base__") + within).cast("long")
    packed = (slim.join(F.broadcast(base), "__b__")
              .select(F.col(id_col), "n_tokens", off.alias("tok_offset")))
    first = F.expr("tok_offset div {}".format(context_len))
    last = F.expr("(tok_offset + n_tokens - 1) div {}".format(context_len))
    has = F.col("n_tokens") > 0
    return packed.select(
        id_col,
        "n_tokens",
        "tok_offset",
        F.when(has, first).cast("long").alias("chunk_first"),
        F.when(has, last).cast("long").alias("chunk_last"),
        F.when(has, last - first + 1).otherwise(0).cast("long").alias("n_chunks"),
    )


def lang_confusion(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    *,
    denom: int = 1_000_000,
) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the
    mislabeled-language audit of a multilingual corpus (declared lang
    headers are famously wrong; per-row validation can check that a
    lang tag is IN a list, only this cross-check can say the tag
    disagrees with the text). Per (declared, predicted) pair:
    (lang, lang_pred, n_docs, share_ppm) where share_ppm is the
    floor-div ppm share WITHIN the declared cohort, so "93% of
    lang='de' docs predict de, 4% en" reads straight off the rows.

    The prediction rule is lang_id's, verbatim (_lang_pred_exprs —
    shared-rule convention). A NULL declared lang is its own cohort
    (the house NULL-group rule: missing tags are a distinct upstream
    failure, never conflated with any language).

    Scale shape: declared tag and prediction are computed in the SAME
    codegen projection inside the scan task (no self-join back by id —
    text never shuffles, ids never travel); one map-side-combined
    (lang, lang_pred) count agg reduces the corpus to O(langs^2) rows;
    cohort totals are a sum-over-window on that AGGREGATE frame (the
    drift-histogram convention — and unlike a join on ``lang``, a
    window partition groups NULL keys together, which is exactly the
    NULL-cohort semantics promised above).
    """
    if denom < 1:
        raise ValueError("denom must be >= 1")
    _, pred = _lang_pred_exprs(F.col(text_col))
    cells = (df.select(F.col(lang_col).alias("lang"), pred.alias("lang_pred"))
             .groupBy("lang", "lang_pred")
             .agg(F.count(F.lit(1)).alias("n_docs")))
    cells = cells.withColumn(
        "__t__", F.sum("n_docs").over(Window.partitionBy("lang")))
    return cells.select(
        "lang", "lang_pred", "n_docs",
        F.expr("n_docs * {} div __t__".format(int(denom)))
         .cast("long").alias("share_ppm"))
