"""Discovery-operator scale stress: millions of rows through the
round-5 profiling/mixing operators.

Evidence for SCALE.md's claims about E157/E158/E165:

- inclusion_profile's only data-sized exchange carries distinct
  (col, value) counters — a 10M-row child with a 10M-distinct id column
  is the worst case (the melt cannot dedup anything), so the measured
  wall time bounds the operator's cost at any duplication level;
- format_mask_profile is scan-side codegen regexps: the exchange
  carries masks (here 3 per column), never values;
- quota_sample's per-cohort sort handles multi-million-row cohorts in
  one task each — the documented hot-group shape, measured.

The construction plants exact expectations and asserts them: child.fk
(n//10 distinct, all inside parent) must read containment 1e6, child.id
(all distinct, nothing in parent beyond the id range overlap) reads the
overlap exactly; the mask histogram is closed-form; quota_sample
returns exactly the quota per cohort.

Usage: python tools/stress_discovery.py [n_rows] [cpus]
Prints one JSON line {rows, seconds per stage, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import SparkSession, functions as F

    from pandasschema_spark.frames import local_frame
    from pandasschema_spark.operators.profile import format_mask_profile
    from pandasschema_spark.operators.referential import inclusion_profile
    from pandasschema_spark.operators.sampling import quota_sample

    spark = (SparkSession.builder.master("local[{}]".format(cpus))
             .config("spark.sql.shuffle.partitions", str(cpus * 2))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    out = {"rows": n, "cpus": cpus}

    n_fk = n // 10
    n_parent = n_fk + n_fk // 5  # fk domain + 20% childless parents
    child = spark.range(0, n, 1, cpus * 2).select(
        F.col("id"), (F.col("id") % n_fk).alias("fk"))
    parent = spark.range(0, n_parent, 1, cpus).select(
        F.col("id").alias("pid"))

    t0 = time.time()
    rows = inclusion_profile(
        [("child", child, ["id", "fk"]), ("parent", parent, ["pid"])],
    ).collect()
    t_inc = time.time() - t0
    out["inclusion_sec"] = round(t_inc, 1)
    got = {(r["col_a"], r["col_b"]): r for r in rows}
    fkp = got[("child.fk", "parent.pid")]
    assert fkp["containment_ppm"] == 1_000_000, fkp  # planted FK
    assert fkp["n_a"] == n_fk and fkp["n_b"] == n_parent, fkp
    idp = got[("child.id", "parent.pid")]
    assert idp["n_common"] == n_parent, idp  # parent range inside id range
    out["inclusion_pairs"] = len(rows)

    strings = spark.range(0, n, 1, cpus * 2).select(
        F.concat(F.lit("user-"), F.col("id").cast("string"),
                 F.lit("@host"), (F.col("id") % 3).cast("string"))
        .alias("s"))
    t0 = time.time()
    masks = format_mask_profile(strings, ["s"]).collect()
    t_mask = time.time() - t0
    out["mask_sec"] = round(t_mask, 1)
    assert {r["mask"] for r in masks} == {"A-9@A9"}, masks
    assert sum(r["n_rows"] for r in masks) == n

    ev = spark.range(0, n, 1, cpus * 2).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("g"))
    quotas = local_frame(
        spark, [(str(i), 10_000) for i in range(5)], "value string, quota long")
    t0 = time.time()
    cnt = (quota_sample(ev, "g", "id", quotas)
           .groupBy("g").count().collect())
    t_q = time.time() - t0
    out["quota_sec"] = round(t_q, 1)
    assert {r["g"]: r["count"] for r in cnt} == \
        {str(i): 10_000 for i in range(5)}, cnt

    # divide by raw elapsed (rounded values can be 0.0 on fast runs)
    for k, sec in (("inclusion", t_inc), ("mask", t_mask), ("quota", t_q)):
        out[k + "_rows_per_sec"] = int(n / max(sec, 1e-6))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
