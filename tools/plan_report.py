"""Dump the executed physical plans of the engine's headline operators
into PLANS.md — reviewable evidence of the scale properties the repo
claims (one pruned scan, broadcast joins, single exchanges, codegen),
without having to re-run anything.

Usage: python tools/plan_report.py [sf_dir]
       python tools/plan_report.py SF_DIR NAME [NAME ...]

The second form prints the executed plan of each named
__spark_entry__.queries() entry under a `## NAME` header instead, with
expression and exchange ids masked (`#123` -> `#`, `plan_id=45` ->
`plan_id=`) and lambda variable numbers too (`lambda x_65#` ->
`lambda x_#`: pyspark numbers them from a process-wide counter), so two
runs or two checkouts diff line by line.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def plan_of(df) -> str:
    raw = df._jdf.queryExecution().executedPlan().toString()
    # sentinel literals (\x00/\x01 null-safe separators) appear verbatim
    # in plan dumps; escape them so PLANS.md stays a text file
    return "".join(
        ch if ch == "\n" or 32 <= ord(ch) else "\\x{:02x}".format(ord(ch))
        for ch in raw
    )


def masked_plan(df) -> str:
    """``plan_of(df)`` without the numbers that depend on the session's
    history: expression and exchange ids, and lambda variable names."""
    plan = re.sub(r"(#|plan_id=)\d+", r"\1", plan_of(df))
    return re.sub(r"(lambda \w+_)\d+(?=#)", r"\1", plan)


def query_plans(spark, sf_dir: str, names) -> str:
    """One `## NAME` section per registry query: its masked executed
    plan, built inside resources.scope()."""
    import __spark_entry__ as E
    from pandasschema_spark.resources import scope

    qs = E.queries()
    out = []
    for name in names:
        with scope():
            plan = masked_plan(qs[name](spark, sf_dir))
        out += ["## " + name, "", plan.rstrip(), ""]
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if names:
        print(query_plans(spark, sf_dir, names))
        return

    from pandasschema_spark import Column, Schema
    from pandasschema_spark.operators.colstats import zscore_outliers
    from pandasschema_spark.operators.sampling import stratified_sample
    from pandasschema_spark.operators.sessions import session_stats
    from pandasschema_spark.validation import (InListValidation,
                                               InRangeValidation,
                                               InTableValidation,
                                               IsDistinctValidation,
                                               MatchesPatternValidation)

    li = spark.read.parquet(sf_dir + "/lineitem.parquet")
    part = spark.read.parquet(sf_dir + "/part.parquet")
    ev = spark.read.parquet(sf_dir + "/events.parquet")

    sections = []

    schema = Schema([
        Column("l_quantity", [InRangeValidation(1, 25)]),
        Column("l_returnflag", [InListValidation(["A", "N", "R"])]),
        Column("l_linestatus", [MatchesPatternValidation("^[OF]$")]),
    ])
    v = schema.validate(
        li, columns=["l_quantity", "l_returnflag", "l_linestatus"],
        row_key=F.expr("l_orderkey*10+l_linenumber")).violations
    sections.append((
        "Row-local multi-check validation (3 checks, one scan)",
        "Claims visible below: ONE `Scan parquet` with `ReadSchema` pruned "
        "to the validated columns + row-key inputs; the fused boolean "
        "projection + explode runs inside `WholeStageCodegen` (no "
        "CodegenFallback higher-order functions).",
        plan_of(v)))

    v2 = Schema([Column("l_orderkey", [IsDistinctValidation()])]).validate(
        li, columns=["l_orderkey"],
        row_key=F.expr("l_orderkey*10+l_linenumber")).violations
    sections.append((
        "Uniqueness (one map-side-combined hash-agg + broadcast join-back)",
        "Claims: 2 `HashAggregate`s (partial+final per value), "
        "`BroadcastHashJoin` back to rows — no Sort, no Window.",
        plan_of(v2)))

    v3 = Schema([Column("l_partkey", [InTableValidation(part, "p_partkey")])]) \
        .validate(li, columns=["l_partkey"], row_key="l_orderkey").violations
    sections.append((
        "Referential (broadcast LEFT ANTI)",
        "Claims: `BroadcastHashJoin ... LeftAnti`; the fact side never "
        "shuffles.",
        plan_of(v3)))

    sections.append((
        "Sessionization (hot-user cap ON)",
        "Claims: the sessionize windows + per-session agg share ONE "
        "`Exchange hashpartitioning(user_id)`; the cap adds only a slim "
        "groupBy-count + `BroadcastHashJoin ... LeftAnti` (no extra window "
        "over the event set).",
        plan_of(session_stats(ev))))

    sections.append((
        "Stratified sampling (row-local, zero shuffle)",
        "Claims: no Exchange anywhere — the per-stratum CASE threshold and "
        "md5 bucket filter fuse into the single scan.",
        plan_of(stratified_sample(
            spark.read.parquet(sf_dir + "/orders.parquet"),
            "o_orderkey", "o_orderpriority", {"1-URGENT": 0.5},
            default_fraction=0.1))))

    cents = F.round(F.col("value") * 100).cast("long")
    sections.append((
        "Z-score outliers (stats agg -> driver cutoffs -> broadcast back)",
        "Claims: the cutoff table joins back via `BroadcastHashJoin`; the "
        "fact side is a single scan + row-local integer compare.",
        plan_of(zscore_outliers(ev, cents, ["event_type"],
                                k=3, keep_cols=["event_id"]))))

    from pandasschema_spark.operators.drift import chi_square_two_sample_by
    from pandasschema_spark.operators.reconcile import reconcile_header_detail

    orders = spark.read.parquet(sf_dir + "/orders.parquet")
    line_cents = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        * (F.lit(1) + F.col("l_tax")) * 100).cast("long")
    sections.append((
        "Header-detail reconciliation (detail aggregates BEFORE the join)",
        "Claims: the detail-side `HashAggregate` (partial+final, map-side "
        "combined) sits UNDER the join — lineitem rows never meet the "
        "orders table; both join inputs are already O(keys).",
        plan_of(reconcile_header_detail(
            orders, "o_orderkey", F.round(F.col("o_totalprice") * 100),
            li, "l_orderkey", line_cents))))

    base = ev.where(F.col("user_id").isNotNull()).select(
        "event_id", "event_type",
        F.pmod(F.col("user_id"), F.lit(8)).cast("long").alias("ub"))
    sections.append((
        "Per-group two-sample drift (one tagged-union shuffle)",
        "Claims: exactly ONE `Union` of the two tagged frames feeding one "
        "(grp, bucket) `HashAggregate`; per-group totals come from a "
        "`Window` over the aggregated histogram — the raw rows are never "
        "scanned or shuffled twice.",
        plan_of(chi_square_two_sample_by(
            base.where(F.col("event_id") % 2 == 0),
            base.where(F.col("event_id") % 2 == 1), "event_type", "ub"))))

    from pandasschema_spark.operators.dedup import keep_latest
    from pandasschema_spark.operators.rank import global_ordinal
    from pandasschema_spark.resources import scope

    with scope():
        go = global_ordinal(orders.select("o_orderkey", "o_totalprice"),
                            ["o_totalprice", "o_orderkey"], partitions=8)
        sections.append((
            "Global ordinal (range shuffle, not a one-task window)",
            "Claims: `Exchange rangepartitioning` + in-partition sort; the "
            "ordinal is a row-local CASE projection over the persisted "
            "frame — no `Window`, no `SinglePartition` funnel.",
            plan_of(go)))

    sections.append((
        "Keep-latest compaction (max-struct hash agg)",
        "Claims: ONE Exchange; `partial_max` of the packed "
        "(order, payload) struct shows the map-side combine — no Window, "
        "no per-key sort.",
        plan_of(keep_latest(ev, ["user_id"], ["ts", "event_id"],
                            ["event_type"]))))

    from pandasschema_spark.operators.diff import table_diff
    from pandasschema_spark.operators.repair import RepairRule, repair

    o3 = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    sections.append((
        "Keyed snapshot diff (digest-sum agg, no join)",
        "Claims: the two sides Union into ONE `HashAggregate` keyed on the "
        "join keys (partial+final = map-side combined digest sums); no "
        "`SortMergeJoin`/`BroadcastHashJoin` anywhere — payloads reduce to "
        "md5-chunk decimals before the exchange.",
        plan_of(table_diff(
            o3, o3.where(F.col("o_orderkey") % 2 == 0),
            ["o_orderkey"], ["o_orderstatus", "o_totalprice"]))))

    sections.append((
        "Auto-repair fused into the validation scan",
        "Claims: repair CASE projections, the compiled violations explode, "
        "and the scan share one `WholeStageCodegen` span — zero Exchange "
        "before the summary agg.",
        plan_of(repair(o3, (
            RepairRule("o_orderstatus", "case_to_list", allowed=("O", "F", "P")),
            RepairRule("o_totalprice", "clamp", lo=1.0, hi=500000.0))))))

    from pandasschema_spark.operators.entity import blocked_pairs
    ent = spark.range(500).select(
        "id", F.concat(F.lit("nm "), F.col("id").cast("string")).alias("name"))
    sections.append((
        "Entity-resolution candidate stage (blocked pairs, cap ON)",
        "Claims: the self-join is an EQUI-join on the block key (never "
        "`CartesianProduct`/`BroadcastNestedLoopJoin` — an unkeyed name join "
        "is the all-pairs melt blocking exists to avoid); the hot-block cap "
        "is `BroadcastHashJoin ... LeftAnti`; the bounded `levenshtein` "
        "verify runs as a post-join Filter inside codegen; no Window; the "
        "normalized/blocked frame computes ONCE (`InMemoryTableScan` on "
        "both join sides and the hot count — not four corpus re-scans).",
        plan_of(blocked_pairs(ent, "name", "id", max_block=100))))

    from pandasschema_spark.frames import local_frame
    from pandasschema_spark.operators.colstats import concentration_profile
    from pandasschema_spark.operators.dedup import canonical_representatives
    from pandasschema_spark.operators.profile import timeline_trend
    from pandasschema_spark.operators.text import boilerplate_scan

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    sections.append((
        "Line-boilerplate profile (digest shuffle, broadcast dictionary)",
        "Claims: lines explode and collapse to md5 digests INSIDE the scan "
        "task (corpus bytes never shuffle); the distinct (doc, digest) "
        "frame persists and BOTH consumers read `InMemoryTableScan` (the "
        "corpus is scanned once, not per-branch); the doc-frequency agg is "
        "`partial_count` map-side combined; the >= threshold dictionary "
        "joins back via `BroadcastHashJoin` — no Window, no sort.",
        plan_of(boilerplate_scan(docs, "text", "doc_id", min_doc_freq=10))))

    pairs = local_frame(spark, [(1, 2)], "id_a long, id_b long")
    with scope():
        sections.append((
            "Canonical representative per duplicate cluster (window-free argmax)",
            "Claims: `partial_max` of the packed (order, id, payload) struct "
            "FUSED with `count` in one `HashAggregate` — no Window ever sorts "
            "a hot cluster through one task; the cluster map joins in once.",
            plan_of(canonical_representatives(
                docs.select("doc_id", F.length("text").alias("n_chars"), "lang"),
                "doc_id", pairs, ["n_chars"], payload_cols=["lang"]))))

    sections.append((
        "Per-cohort OLS volume trend (two aggs, no window)",
        "Claims: ONE data-sized `Exchange` for the (group, bucket) count "
        "agg; the decimal moment sums reduce the aggregated frame to "
        "O(groups) in a second tiny agg; no Window, no collect.",
        plan_of(timeline_trend(ev, "ts", group_col="event_type"))))

    sections.append((
        "Concentration profile (melt -> counter shuffle, never occurrences)",
        "Claims: the (col, value) melt explodes BEFORE a map-side-combined "
        "`HashAggregate` (`partial_count`), so the exchange carries "
        "O(sum distinct) counter rows; second agg is O(columns); no "
        "CodegenFallback in the melt projection.",
        plan_of(concentration_profile(ev, ["event_type", "user_id"]))))

    from pandasschema_spark.operators.profile import format_mask_profile
    from pandasschema_spark.operators.referential import inclusion_profile
    orders = spark.read.parquet(sf_dir + "/orders.parquet")
    cust = spark.read.parquet(sf_dir + "/customer.parquet")

    sections.append((
        "Format-mask profile (scan-side codegen masks, window over the "
        "aggregate only)",
        "Claims: the regexp mask chain runs INSIDE the scan projection "
        "(`Generate explode` of pre-masked structs — raw values never "
        "shuffle); `partial_count` map-side combine; the single `Window` "
        "sits ABOVE the final `HashAggregate`, over the O(masks) frame.",
        plan_of(format_mask_profile(
            orders, ["o_orderstatus", "o_orderpriority"]))))

    sections.append((
        "Inclusion-dependency discovery (distinct melt -> collect_set -> "
        "diagonal broadcasts)",
        "Claims: one melt scan per table; `partial_collect_set`/object "
        "hash agg dedups per value map-side (a hot value costs p "
        "entries); pair expansion is chained `Generate explode` (codegen,"
        " never a HOF lambda); the O(p) diagonal joins back as TWO "
        "`BroadcastHashJoin`s — no SortMergeJoin anywhere.",
        plan_of(inclusion_profile([
            ("orders", orders, ["o_custkey"]),
            ("customer", cust, ["c_custkey", "c_nationkey"])]))))

    md = ["# PLANS — executed physical plans of headline operators",
          "",
          "Generated by `python tools/plan_report.py` at `{}`. These are the"
          " plans the plan-lock tests (tests/test_plan_quality.py) assert"
          " on; regenerate after any planner-visible change.".format(sf_dir),
          ""]
    for title, claims, plan in sections:
        md += ["## " + title, "", claims, "", "```", plan.rstrip(), "```", ""]
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(md))
    print("wrote", out, "({} sections)".format(len(sections)))


if __name__ == "__main__":
    main()
