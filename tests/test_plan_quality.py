"""Physical-plan regression tests: the scale properties the engine
promises must be visible in .explain output, not just hoped for.

Locked-in findings from the plan audit:
- row-local validation = ONE parquet scan, column-pruned to the
  validated columns + row key, codegen-friendly (no CodegenFallback
  higher-order functions in the violations projection)
- uniqueness = one map-side-combined hash aggregation + BROADCAST
  join-back
  (never a sort or a window at scale)
- referential = BROADCAST left-anti join
- upstream filters reach the parquet scan (PushedFilters)
"""

import re

import pytest
from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.validation import (
    InListValidation,
    InRangeValidation,
    InTableValidation,
    IsDistinctValidation,
    MatchesPatternValidation,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.usefixtures("scoped")


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(SF_DIR + "/lineitem.parquet")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_local_single_pruned_scan(spark, li):
    schema = Schema([
        Column("l_quantity", [InRangeValidation(1, 25)]),
        Column("l_returnflag", [InListValidation(["A", "N", "R"])]),
        Column("l_linestatus", [MatchesPatternValidation("^[OF]$")]),
    ])
    v = schema.validate(
        li, columns=["l_quantity", "l_returnflag", "l_linestatus"],
        row_key=F.expr("l_orderkey*10+l_linenumber"),
    ).violations
    plan = plan_of(v)
    assert plan.count("Scan parquet") == 1, "row-local checks must share ONE scan"
    read = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in read.split(",")}
    assert read_cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"}, \
        "scan must be pruned to validated columns + row-key inputs, got {}".format(read_cols)
    # the 4x interpreted-mode regression: no higher-order array filter
    assert "ArrayFilter" not in plan and "lambdafunction" not in plan.lower()


def test_distinct_one_agg_broadcast_joinback(spark, li):
    schema = Schema([Column("l_orderkey", [IsDistinctValidation()])])
    v = schema.validate(li, columns=["l_orderkey"], row_key=F.expr("l_orderkey*10+l_linenumber")).violations
    plan = plan_of(v)
    # ONE map-side-combined agg per value (partial+final pair): the old
    # explicit-salt two-phase form shuffled the projection twice
    assert plan.count("HashAggregate") == 2
    assert "BroadcastHashJoin" in plan, "duplicate keys must broadcast to the join-back"
    assert "SortMergeJoin" not in plan and "Window" not in plan
    # both the agg scan and the join-back scan read only key+ordinal inputs
    for read in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in read.split(",")) == {"l_orderkey", "l_linenumber"}


def test_global_combinators_share_one_fail_set_plan(spark, li):
    part = li.sparkSession.read.parquet(SF_DIR + "/part.parquet")
    rk = F.expr("l_orderkey*10+l_linenumber")

    def plan(v):
        return plan_of(Schema([Column("l_partkey", [v])]).validate(
            li, columns=["l_partkey"], row_key=rk).violations)

    # the value rides through the fail set: the duplicate-key agg, its
    # join-back and the other operand read the source; nothing joins it
    # back in to recover the value
    for v in (~IsDistinctValidation(),
              IsDistinctValidation() | InRangeValidation(1, 150),
              IsDistinctValidation() & InRangeValidation(1, 150)):
        assert plan(v).count("FileScan parquet") == 3, v.message
    # a schema without row-local checks unions no empty placeholder
    for v in (IsDistinctValidation(), InTableValidation(part, "p_partkey"),
              ~IsDistinctValidation()):
        assert "Scan ExistingRDD" not in plan(v), v.message


def test_referential_broadcast_anti(spark, li):
    part = li.sparkSession.read.parquet(SF_DIR + "/part.parquet")
    schema = Schema([Column("l_partkey", [InTableValidation(part, "p_partkey")])])
    v = schema.validate(li, columns=["l_partkey"], row_key="l_orderkey").violations
    plan = plan_of(v)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, li):
    schema = Schema([Column("l_quantity", [InRangeValidation(1, 25)])])
    flt = li.where(F.col("l_shipdate") >= "1995-01-01")
    v = schema.validate(flt, columns=["l_quantity"], row_key="l_orderkey").violations
    m = re.search(r"PushedFilters: (\[[^\]]*\])", plan_of(v))
    assert m and "l_shipdate" in m.group(1), "upstream filter must push into the parquet scan"


def test_text_operators_codegen_clean(spark):
    """text.py's counters must stay off higher-order array functions
    (F.filter/F.transform lambdas are CodegenFallback — the 4x interpreted
    regression documented in plans/compiler.py applies to these narrow
    projections just as much as to the violations projection)."""
    from pandasschema_spark.operators import text as TX

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    for op in (TX.quality_metrics, TX.lang_id, TX.token_count, TX.fingerprint):
        plan = plan_of(op(docs, "text", "doc_id"))
        assert "ArrayFilter" not in plan and "lambdafunction" not in plan.lower(), \
            "{} plan fell off the codegen path:\n{}".format(op.__name__, plan[:2000])
        assert plan.count("Scan parquet") == 1


def test_lsh_bucket_cap_no_window(spark):
    """The hot-bucket cap must be a groupBy-count + broadcast anti-join —
    a count-over-Window would funnel the whole hot bucket through ONE
    task, the exact skew the cap exists to avoid."""
    from pandasschema_spark.operators import dedup as D

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").limit(50)
    cands = D.lsh_candidate_pairs(docs, "text", "doc_id", max_bucket=10)
    plan = plan_of(cands)
    assert "Window" not in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_binary_column_read_only_when_checked(spark):
    """Column pruning on the clips table: a suite without PCM checks must
    not read the (dominant) bytes column from parquet."""
    from pandasschema_spark.clips_suite import clips_schema
    from pandasschema_spark.sources.datagen import clips_df

    df = clips_df(spark, 100, with_audio=False, partitions=2)
    # over a parquet roundtrip so ReadSchema is observable
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/t")
        t = spark.read.parquet(d + "/t")
        schema = clips_schema(None, with_pcm_checks=False)
        v = schema.validate(
            t, columns=["clip_id", "sr_hz", "dur_ms", "codec", "transcript"], row_key="row_ord"
        ).violations
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan_of(v))
        assert reads
        for read in reads:
            assert "bytes" not in read, "bytes column must be pruned when no PCM check is present"


def test_ngram_projection_codegen_clean(spark):
    """The n-gram shingle projection (Jaccard/MinHash gram space) must be
    native regexp_extract_all, not an F.transform lambda — the last
    CodegenFallback HOF the r2 audit flagged."""
    from pandasschema_spark.operators import dedup as D

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = plan_of(D.doc_grams(docs, "text", "doc_id"))
    assert "lambdafunction" not in plan.lower(), \
        "gram projection fell off the codegen path:\n" + plan[:2000]
    assert plan.count("Scan parquet") == 1


def test_sessionize_single_exchange(spark):
    """session_stats must plan exactly ONE shuffle (hash(user_id)): the
    windows share the sort, and the (user, session_no) aggregation is
    satisfied by the user_id partitioning (ClusteredDistribution subset
    rule) — a second Exchange would double the dominant cost at 10^12
    events."""
    from pandasschema_spark.operators.sessions import session_stats

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = plan_of(session_stats(ev, max_events_per_user=None))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan[:3000]


def test_sessionize_hot_user_cap_plan(spark):
    """The default hot-user cap must be a slim groupBy-count + broadcast
    LEFT ANTI join — never a count-over-window (which would shuffle and
    sort the FULL event set per user before filtering anything). Total
    exchanges: the sessionize exchange plus ONE metadata-sized count
    exchange (user_id + a long), and the per-event Window count stays
    exactly what the uncapped plan has."""
    from pandasschema_spark.operators.sessions import session_stats

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    capped = plan_of(session_stats(ev))            # cap defaults ON
    uncapped = plan_of(session_stats(ev, max_events_per_user=None))
    assert "BroadcastHashJoin" in capped and "LeftAnti" in capped, capped[:3000]
    assert capped.count("Window") == uncapped.count("Window"), \
        "cap added a window over the event set:\n" + capped[:3000]
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", capped))
    assert n_exchanges == 2, capped[:3000]


def test_quarantine_split_broadcasts_bad_keys(spark):
    """ValidationResult.split must broadcast the violating-key set — the
    fact table itself must not shuffle."""
    from pandasschema_spark.validation import InRangeValidation as IR

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    schema = Schema([Column("l_quantity", [IR(1, 25)])])
    res = schema.validate(li, columns=["l_quantity"], row_key="l_orderkey")
    clean, quar = res.split(li, "l_orderkey")
    for side in (clean, quar):
        plan = plan_of(side)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0], \
            "fact side must not shuffle"


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_bucketed_join_no_exchange(spark, tmp_path, fmt):
    """Two tables bucketed identically on the join key must join with
    ZERO Exchange operators — the write-once-amortize-forever
    co-location primitive for repeated fact-fact joins at scale. Both
    builtin columnar formats: write_bucketed must honor the warehouse
    format (an ORC warehouse silently writing parquet buckets was the
    round-3 wart), checked against the files actually on disk."""
    import os

    from pandasschema_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path), fmt=fmt)
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("y"))
    ta, tb = "bk_a_" + fmt, "bk_b_" + fmt
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        wh.write_bucketed(a, ta, "k", 4, sort_col="k")
        wh.write_bucketed(b, tb, "k", 4, sort_col="k")
        data_files = [f for f in os.listdir(wh.path(ta)) if f.startswith("part-")]
        assert data_files and all(f.endswith(wh.suffix) for f in data_files), \
            "bucketed files ignore the warehouse format: " + repr(data_files[:3])
        # disable broadcast so the tiny test tables take the fact-fact
        # (sort-merge) path the bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan[:3000]
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS {}".format(ta))
        spark.sql("DROP TABLE IF EXISTS {}".format(tb))


def test_compact_refuses_bucketed_table(spark, tmp_path):
    """compact()'s plain repartition rewrite would break Spark's
    bucket-file naming contract while the catalog still advertises the
    bucketing — it must refuse with a pointer at write_bucketed."""
    from pandasschema_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path))
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    try:
        wh.write_bucketed(df, "bk_guard", "k", 4)
        with pytest.raises(ValueError, match="write_bucketed"):
            wh.compact(spark, "bk_guard")
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_guard")


def test_stratified_sample_no_shuffle(spark):
    """Per-stratum sampling must stay a row-local filter fused into the
    scan — zero Exchange operators."""
    from pandasschema_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(SF_DIR + "/orders.parquet")
    plan = plan_of(stratified_sample(docs, "o_orderkey", "o_orderpriority",
                                     {"1-URGENT": 0.5}, default_fraction=0.1))
    assert "Exchange" not in plan, plan[:3000]
    assert plan.count("Scan parquet") == 1


def test_zscore_outliers_broadcasts_cutoffs(spark):
    """The O(groups) cutoff table must broadcast back to the fact scan —
    the rows themselves never shuffle."""
    from pandasschema_spark.operators.colstats import zscore_outliers

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    cents = F.round(F.col("value") * 100).cast("long")
    out = zscore_outliers(ev, cents, ["event_type"], k=3,
                          keep_cols=["event_id"])
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0], \
        "fact side must not shuffle:\n" + plan[:3000]


def test_heavy_hitters_no_global_sort(spark):
    """Top-k must plan TakeOrderedAndProject over the hash-agg — a full
    Sort of the distinct-value set is the thing to avoid at 10^9 keys."""
    from pandasschema_spark.operators.colstats import heavy_hitters

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    plan = plan_of(heavy_hitters(li, "l_partkey", top_k=50).select("value", "cnt"))
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_speech_rate_codegen_clean_and_bytes_pruned(spark):
    """speech_rate must stay a row-local codegen projection (no HOF
    lambdas) and must never read the dominant bytes column."""
    import re as _re

    from pandasschema_spark.operators.audio import speech_rate
    from pandasschema_spark.sources.datagen import clips_df
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        clips_df(spark, 50, with_audio=True, partitions=2).write.parquet(d + "/t")
        t = spark.read.parquet(d + "/t")
        plan = plan_of(speech_rate(t, max_mwps=100_000))
        assert "lambdafunction" not in plan.lower()
        assert "Exchange" not in plan
        reads = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert reads and all("bytes" not in r for r in reads), plan[:1500]


def test_embedding_norm_arrow_no_shuffle(spark):
    """The embedding-norm scan (one Arrow pass) is a single pass with
    zero exchanges — flagging must not cost a shuffle."""
    from pandasschema_spark.operators.similarity import embedding_norm_violations

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    plan = plan_of(embedding_norm_violations(
        emb, expected_dim=64, min_norm2_micro=990_000,
        max_norm2_micro=1_010_000))
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_reconcile_no_raw_detail_at_join(spark):
    """Scale lock for reconcile_header_detail over real parquet: the
    detail side's HashAggregate must sit below the join (detail rows
    reduced to O(keys) before meeting headers)."""
    from pandasschema_spark.operators.reconcile import reconcile_header_detail
    from pyspark.sql import functions as _F

    orders = spark.read.parquet(SF_DIR + "/orders.parquet")
    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    out = reconcile_header_detail(
        orders, "o_orderkey", _F.round(_F.col("o_totalprice") * 100),
        li, "l_orderkey",
        _F.round(_F.col("l_extendedprice") * 100).cast("long"))
    plan = plan_of(out)
    join_pos = plan.find("Join")
    assert join_pos >= 0
    assert plan.find("HashAggregate", join_pos) > join_pos


def test_global_ordinal_range_shuffle_not_single_partition(spark):
    """global_ordinal must plan a rangepartitioning exchange — never the
    window form's SinglePartition funnel — and the ordinal itself must be
    a row-local projection (no Window operator anywhere)."""
    from pandasschema_spark.operators.rank import global_ordinal

    orders = spark.read.parquet(SF_DIR + "/orders.parquet")
    plan = plan_of(global_ordinal(orders.select("o_orderkey", "o_totalprice"),
                                  ["o_totalprice", "o_orderkey"], partitions=8))
    assert "rangepartitioning" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_collocations_codegen_clean_one_scan_per_leg(spark):
    """collocations' token and bigram projections must stay codegen
    (split/regexp/substring_index — no HOF lambdas), and the lift gate
    must compare decimal products, never divide."""
    from pandasschema_spark.operators.text import collocations

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = collocations(docs, "text", min_count=2, min_lift=2)
    plan = plan_of(out)
    assert "ArrayFilter" not in plan and "lambdafunction" not in plan.lower(), \
        "collocations fell off the codegen path:\n" + plan[:2000]
    assert "Divide" not in plan
    # the unigram aggregate appears three times in the logical plan (c_x
    # join, c_y join, token total) but must EXECUTE once: the three
    # exchange subtrees canonicalize identically, so AQE's exchange reuse
    # replaces two with ReusedExchange — one real scan per leg
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2, executed[:2000]


def test_entity_blocked_pairs_plan(spark):
    """The candidate stage must be an equi-join on the block key (never
    a cartesian / broadcast-nested-loop: an unkeyed name join is the
    all-pairs melt the blocking exists to avoid), the hot-block cap a
    broadcast LEFT ANTI, the bounded-levenshtein verify a post-join
    filter — and no Window anywhere."""
    from pandasschema_spark.operators.entity import blocked_pairs

    df = spark.range(200).select(
        "id", F.concat(F.lit("nm "), F.col("id").cast("string")).alias("name"))
    pairs = blocked_pairs(df, "name", "id", max_block=50)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    # the cap must be a BROADCAST anti-join on ONE node — 'LeftAnti' and
    # 'BroadcastHashJoin' appearing separately would also be satisfied
    # by a shuffled anti + the (small-scale) broadcast pair join
    import re
    assert re.search(r"BroadcastHashJoin .*?, LeftAnti", plan)
    assert "levenshtein" in plan
    # the blocked frame computes once: both join sides + the hot count
    # read the persisted copy, not four corpus re-scans
    assert "InMemoryTableScan" in plan


def test_funnel_single_sort_shared_exchange(spark):
    """funnel_counts: all stage reach-flags + the per-user conversion agg
    must share ONE hash(user) exchange and ONE sort — a per-stage
    exchange or sort multiplies the dominant cost by the funnel depth.
    (Uncapped: the cap adds only its slim count exchange, locked by the
    sessionize cap test's pattern.)"""
    from pandasschema_spark.operators.sessions import funnel_counts

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = plan_of(funnel_counts(ev, ["view", "click", "purchase"],
                                 max_events_per_user=None))
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan[:3000]
    # one user exchange + the O(1)-row final tally single partition
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash == 1, plan[:3000]


def test_drift_onset_scans_raw_once(spark):
    """chi_square_onset: the raw table is scanned ONCE into the cached
    (bucket, category) histogram; complement stats, totals and the dense
    grid must all read the cache (InMemoryTableScan), never re-scan or
    re-shuffle the raw rows, and the grid sides are broadcast."""
    from pandasschema_spark.operators.drift import chi_square_onset

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = plan_of(chi_square_onset(ev, "ts", "event_type"))
    assert plan.count("InMemoryTableScan") >= 3, plan[:3000]
    assert "BroadcastExchange" in plan, plan[:3000]
    # every FileScan mention sits inside the cached relation dump
    live = [l for l in plan.split("\n")
            if "FileScan" in l and "InMemoryRelation" not in l]
    in_cache = plan.count("InMemoryRelation")
    assert in_cache >= 1, plan[:3000]


def test_vocab_novelty_codegen_clean_token_path(spark):
    """vocab_novelty's token explosion must stay codegen (regexp +
    Generate), with partial aggregation before the shuffle — no
    CodegenFallback, no Python UDF in the token path."""
    from pandasschema_spark.operators.text import vocab_novelty

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = plan_of(vocab_novelty(docs, "text", "doc_id"))
    assert "CodegenFallback" not in plan, plan[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan, plan[:3000]


def test_group_quantiles_group_partitioned_windows(spark):
    """group_quantiles must partition its windows by group — a global
    (empty-partition) window would funnel the histogram through one
    task, the exact shape the operator exists to avoid."""
    from pandasschema_spark.operators.colstats import group_quantiles

    orders = spark.read.parquet(SF_DIR + "/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    plan = plan_of(group_quantiles(orders, "o_orderpriority", cents, [500]))
    assert "SinglePartition" not in plan, plan[:3000]
    assert "Window" in plan, plan[:3000]
    # both windows key their exchange on the group column
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys and all(k.split("#")[0] == "grp" for k in keys), plan[:3000]


def test_orphan_rate_timeline_fact_never_shuffles(spark):
    """orphan_rate_timeline: the fact side must reach its per-bucket agg
    through a BROADCAST membership join — no hash exchange of fact rows
    before the (map-side combined) bucket aggregation's own slim
    exchange."""
    from pandasschema_spark.operators.referential import orphan_rate_timeline

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    cust = spark.read.parquet(SF_DIR + "/customer.parquet")
    plan = plan_of(orphan_rate_timeline(ev, "user_id", "ts",
                                        cust, "c_custkey"))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # exactly two hash exchanges, BOTH slim: the O(buckets) aggregate's
    # and the dim's distinct-keys shuffle inside the broadcast build —
    # never one keyed on the fact's join column before the join
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sorted(k.split("#")[0] for k in keys) == \
        ["__dimv__", "bucket_start"], plan[:3000]


def test_image_dup_hot_chunk_cap_no_window(spark):
    """image_dup_pairs' hot-chunk cap must be the house groupBy-count +
    broadcast anti-join shape (never a count-over-Window funneling a
    degenerate chunk through one task), and the verify stage must be a
    row-local bit_count — no second fan-out."""
    from pandasschema_spark.operators.multimodal import (
        image_dup_pairs,
        media_df,
    )

    media = media_df(spark, 60, seed=42, partitions=2)
    pairs = image_dup_pairs(media, max_bucket=10)
    plan = plan_of(pairs)
    assert "Window" not in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "bit_count" in plan


def test_video_dup_payload_never_shuffles(spark):
    """video_dup_pairs: every Exchange must carry slim hash/id rows —
    the binary payload column exists only upstream of the two narrow
    mapInPandas stages, never in a shuffle."""
    from pandasschema_spark.operators.multimodal import (
        media_df,
        video_dup_pairs,
    )

    media = media_df(spark, 60, seed=42, partitions=2)
    pairs = video_dup_pairs(media, max_bucket=10)
    plan = plan_of(pairs)
    assert "Window" not in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # no exchange partitions on or carries the payload column
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1), m.group(0)
