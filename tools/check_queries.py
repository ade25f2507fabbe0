"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
over the same sf dir, compare row multisets (columns sorted by name,
values stringified) AND canonical per-column types (Spark schema vs the
DuckDB result's Arrow schema). The type check exists because bare str()
comparison masked DuckDB HUGEINT vs Spark BIGINT in round 4 — three
oracles passed locally but failed the driver's typed hasher. An uncast
sum() in an oracle now fails HERE first. Each query runs and is
collected inside one resources.scope(); a query that leaves RDDs
persisted after its scope exits fails as a leak. Usage:

    python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from pandasschema_spark.resources import scope  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _cell(v):
    # Spark collect() yields bytearray, DuckDB to_pylist() bytes —
    # str() renders them differently ('bytearray(b..)' vs "b'..'"),
    # a guaranteed false FAIL on the first binary-column oracle
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_cell(r[i]) for i in order))
    return sorted(out)


def canon_spark_type(dt):
    """Canonical name for a Spark SQL type (mirrors canon_arrow_type).

    Integer WIDTHS collapse into one class: the driver's hasher is
    empirically width-insensitive (clips_pcm_validate int64-vs-int32 and
    agg_price_hist int32-vs-int64 were driver-attested hash-green in
    r2/r4) but decimal-vs-int sensitive (the r4 HUGEINT reds)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DecimalType):
        return "decimal({},{})".format(dt.precision, dt.scale)
    if isinstance(dt, T.ArrayType):
        return "array<{}>".format(canon_spark_type(dt.elementType))
    return "other:{}".format(dt.simpleString())


def canon_arrow_type(t):
    """Canonical name for a pyarrow type from a DuckDB .arrow() result.

    DuckDB HUGEINT surfaces as decimal128(38,0) here — exactly the
    mismatch the driver's typed hasher flags against Spark int64.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_decimal(t):
        return "decimal({},{})".format(t.precision, t.scale)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "array<{}>".format(canon_arrow_type(t.value_type))
    return "other:{}".format(t)


def type_mismatches(spark_schema, arrow_schema):
    """[(col, spark_type, duckdb_type)] where canonical types differ."""
    stypes = {f.name: canon_spark_type(f.dataType) for f in spark_schema.fields}
    out = []
    for field in arrow_schema:
        if field.name in stypes:
            ot = canon_arrow_type(field.type)
            if stypes[field.name] != ot:
                out.append((field.name, stypes[field.name], ot))
    return out


def session_size(cpus, mem_bytes):
    """(master, driver heap) for a host with ``cpus`` cores and
    ``mem_bytes`` of RAM: one task slot per core up to the 32 shuffle
    partitions, and a quarter of RAM for the heap, capped at 8g. The JVM
    runs well past its heap (an 8g heap reached 6.3 GB RSS at sf0.1) and
    DuckDB and the collected rows share the host, so a fixed 8g heap was
    OOM-killed on a 16 GB host."""
    heap_mb = min(8 << 10, mem_bytes // 4 >> 20)
    heap = "8g" if heap_mb == 8 << 10 else "{}m".format(heap_mb)
    return "local[{}]".format(min(32, cpus or 1)), heap


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # physical pages x page size is the kernel's MemTotal
    master, heap = session_size(
        os.cpu_count(), os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", heap)
        .appName("check_queries")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')".format(
                t=t, d=sf_dir
            )
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    if only:
        unknown = sorted(set(only) - set(qs))
        if unknown:
            # a typo'd/renamed name must never read as '0 failures'
            raise SystemExit(
                "unknown query name(s): {} — not in queries()".format(unknown))
    failures = []
    jsc = spark.sparkContext._jsc
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # this harness runs all queries in ONE long-lived session: every
        # pin a query makes must be gone once its scope exits
        pinned = set(jsc.getPersistentRDDs().keySet())
        t0 = time.time()
        try:
            with scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print("FAIL  {:24s} spark error: {}".format(name, str(ex)[:300]))
            failures.append(name)
            continue
        spark_t = time.time() - t0
        leaked = set(jsc.getPersistentRDDs().keySet()) - pinned
        if leaked:
            print("FAIL  {:24s} leaked {} persisted RDDs".format(name, len(leaked)))
            failures.append(name)
            continue
        if name not in oracles:
            print("OK?   {:24s} rows={} ({:.1f}s) [rows-only: no oracle]".format(
                name, len(srows), spark_t))
            continue
        try:
            otable = con.execute(oracles[name]).arrow()
            ocols = otable.schema.names
            orows = list(zip(*(c.to_pylist() for c in otable.columns)))
        except Exception as ex:
            print("FAIL  {:24s} duckdb error: {}".format(name, str(ex)[:300]))
            failures.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print("FAIL  {:24s} schema mismatch spark={} duckdb={}".format(name, scols, ocols))
            failures.append(name)
            continue
        bad_types = type_mismatches(sdf.schema, otable.schema)
        if bad_types:
            print("FAIL  {:24s} type mismatch {}".format(
                name,
                ", ".join("{} spark={} duckdb={}".format(*m) for m in bad_types)))
            failures.append(name)
            continue
        a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
        if a == b:
            print("PASS  {:24s} rows={} ({:.1f}s)".format(name, len(a), spark_t))
        else:
            failures.append(name)
            only_a = [r for r in a if r not in set(b)][:3]
            only_b = [r for r in b if r not in set(a)][:3]
            print("FAIL  {:24s} rows spark={} duckdb={}".format(name, len(a), len(b)))
            for r in only_a:
                print("        spark-only : {}".format(r)[:220])
            for r in only_b:
                print("        duckdb-only: {}".format(r)[:220])
    print("\n{} failures".format(len(failures)), failures if failures else "")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
