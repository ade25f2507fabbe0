"""Format-abstracted warehouse: Parquet locally, Iceberg on a real cluster.

No Iceberg runtime jar ships in this sandbox and Maven Central is
unreachable (SURVEY.md environment facts), so the local implementation is
partitioned Parquet (or ORC — both builtin columnar formats are
supported end-to-end incl. compaction) plus our own manifest table, behind
an interface whose Iceberg implementation differs only in DDL/DML strings
(``USING iceberg``) — partition listing, pruning and dynamic-partition
overwrite have direct Iceberg equivalents.

Small driver-side tables (the runner's manifest) are metadata commits,
not Spark jobs: :meth:`Warehouse.append` writes one data file per call
with pyarrow and publishes it with a rename, the equivalent of an
Iceberg append of one data file per commit. Their reads on the driver go
through :meth:`Warehouse.dataset`.
"""

from __future__ import annotations

import os
import typing
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.orc as orc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, types as T
from pyspark.sql.functions import (col as F_col, concat_ws as F_concat_ws,
                                   hash as F_hash, lit as F_lit,
                                   pmod as F_pmod, when as F_when)
from pyspark.sql.pandas.types import from_arrow_schema

from ..frames import arrow_table


class Warehouse:
    """A directory of named tables.

    format='parquet' is the sandbox implementation; format='iceberg' is the
    cluster path (requires org.apache.iceberg:iceberg-spark-runtime on the
    classpath and a configured catalog) — write paths become saveAsTable /
    MERGE and reads become catalog lookups.
    """

    def __init__(self, root: str, fmt: str = "parquet"):
        if fmt not in ("parquet", "orc", "iceberg"):
            raise ValueError("unsupported warehouse format {!r}".format(fmt))
        if fmt == "iceberg":
            raise NotImplementedError(
                "Iceberg catalog not available in this sandbox (no runtime jar, "
                "no network); on a cluster: spark.jars.packages="
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 and a catalog config"
            )
        self.root = root
        self.fmt = fmt
        self.suffix = "." + ("orc" if fmt == "orc" else "parquet")

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        # any hive partition dir ('<col>=...') counts, not just the
        # 'bucket=' layout: a day-partitioned table written where
        # _SUCCESS markers are disabled must still be seen, or append()'s
        # mixed-schema guard silently skips. Names starting with '.' or
        # '_' are not data, as for Spark's and pyarrow's listings: a
        # temporary file left by a crash inside append() is invisible
        p = self.path(name)
        return os.path.isdir(p) and any(
            f == "_SUCCESS" or (not f.startswith((".", "_"))
                                and (f.endswith(self.suffix) or "=" in f))
            for f in os.listdir(p))

    def dataset(self, name: str,
                partitions: typing.Mapping[str, pa.DataType] = None) -> ds.Dataset:
        """The table's data files as a ``pyarrow.dataset``: footer
        schema, file metadata and driver-side reads without a Spark job.
        Names starting with '_' or '.' are skipped at any depth, as
        Spark's own listing skips them, so the ``_temporary`` and
        ``.spark-staging-*`` directories a crashed write leaves are not
        read. ``partitions`` maps hive partition columns (the keys of
        ``<column>=<value>`` directories, at any depth; other keys are
        ignored) to their arrow types. Their values are URI-decoded,
        which undoes Spark's escaping of partition paths."""
        hive = None
        if partitions:
            hive = ds.partitioning(pa.schema(list(partitions.items())), flavor="hive")
        return ds.dataset(self.path(name), format=self.fmt, partitioning=hive)

    def partition_rows(self, name: str, column: str) -> typing.Dict[int, int]:
        """Row count per value of the integer hive partition column
        ``column`` (at any depth), in value order. Read off the data
        files' metadata through :meth:`dataset`: no Spark job. Iceberg
        equivalent: the ``.partitions`` metadata table's
        ``record_count``."""
        try:
            fragments = list(self.dataset(name, {column: pa.int64()}).get_fragments())
        except pa.ArrowInvalid as e:
            raise ValueError("{}: a {} partition is not an integer ({})".format(
                name, column, e)) from None
        rows: typing.Dict[int, int] = {}
        for frag in fragments:
            value = ds.get_partition_keys(frag.partition_expression).get(column)
            if value is not None:
                rows[value] = rows.get(value, 0) + frag.count_rows()
        return dict(sorted(rows.items()))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: typing.Sequence[str] = ()) -> None:
        self._writer(df, mode, partition_by).save(self.path(name))

    def _writer(self, df: DataFrame, mode: str,
                partition_by: typing.Sequence[str]) -> DataFrameWriter:
        if partition_by:
            # the CLAUDE.md parquet-writer rule: repartition by the
            # partition columns first, or every task writes a sliver
            # into every partition dir (tasks x partitions small files —
            # measured 8192 ~170 KB files for one 200k-row table)
            df = df.repartition(*[df[c] for c in partition_by])
        w = df.write.mode(mode).format(self.fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        return w

    def append(self, rows: typing.Iterable[typing.Sequence], schema: T.StructType,
               name: str) -> None:
        """Append ``rows`` (tuples in ``schema`` field order) to the
        unpartitioned table ``name`` as exactly one new data file, written
        on the driver with pyarrow: no Spark job. The file is written
        under a '.'-prefixed name, which every reader skips, and renamed
        into place: the rename is the commit, so a crash leaves the file
        either absent or complete. Iceberg equivalent: an append of one
        data file per commit.

        SCHEMA GUARD: parquet/ORC appends with a mismatched schema do not
        fail at write time — they land mixed files that surface later as
        missing columns or unreadable scans. Appending to an existing
        table therefore requires ``schema``'s (name, Spark type) set to
        equal the one read off the table's footer (order-insensitive)."""
        if self.exists(name):
            have = {f.name: f.dataType.simpleString()
                    for f in from_arrow_schema(self.dataset(name).schema).fields}
            got = {f.name: f.dataType.simpleString() for f in schema.fields}
            mismatch = {c for c in set(have) | set(got) if have.get(c) != got.get(c)}
            if mismatch:
                raise ValueError(
                    "append() schema mismatch on {!r} for columns {} "
                    "(table: {}; rows: {}) — appending would create a "
                    "mixed-schema table; migrate explicitly instead".format(
                        name, sorted(mismatch),
                        {c: have.get(c) for c in sorted(mismatch)},
                        {c: got.get(c) for c in sorted(mismatch)}))
        table = arrow_table(rows, schema)
        path = self.path(name)
        os.makedirs(path, exist_ok=True)
        part = "part-{}{}".format(uuid.uuid4().hex, self.suffix)
        tmp = os.path.join(path, "." + part)
        if self.fmt == "orc":
            orc.write_table(_orc_wall_clock(table), tmp)
        else:
            pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(path, part))

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_by: typing.Sequence[str]) -> None:
        """Dynamic partition overwrite: replaces only the partitions present
        in df — the idempotence primitive for checkpoint re-runs (a killed
        batch's partial output is replaced wholesale on retry). Iceberg
        equivalent: INSERT OVERWRITE / replaceWhere. The mode is a
        per-write option: the session conf is never touched, so another
        writer on the same session (a stream beside a runner) neither
        sees it flipped nor has it restored under it."""
        (self._writer(df, "overwrite", partition_by)
         .option("partitionOverwriteMode", "dynamic")
         .save(self.path(name)))

    def write_bucketed(self, df: DataFrame, table: str, bucket_col: str,
                       n_buckets: int,
                       sort_col: typing.Optional[str] = None) -> None:
        """Catalog-registered bucketed table (Spark native bucketing):
        rows hash-clustered into ``n_buckets`` files per partition by
        ``bucket_col``, optionally sorted within buckets.

        THE co-location primitive at 100 TB: two tables bucketed the
        same way join WITHOUT an Exchange (and without even a Sort when
        sort_col matches the join key) — the shuffle that dominates a
        fact-fact join is paid ONCE at write time and amortized over
        every subsequent join/aggregation on that key
        (tests/test_plan_quality.py::test_bucketed_join_no_exchange
        locks the exchange-free plan). Iceberg equivalent: a
        bucket(n, col) partition transform + storage-partitioned joins.

        Note: bucketed tables live in the session catalog (saveAsTable),
        not at a bare path — read them back with spark.table(table).
        Repartition to n_buckets first so each bucket is one well-sized
        file instead of one file per task per bucket (the small-files
        explosion CLAUDE.md warns about for partitionBy)."""
        from pyspark.sql import functions as F

        w = (df.repartition(n_buckets, F.col(bucket_col))
             .write.mode("overwrite").format(self.fmt)
             .option("path", self.path(table))
             .bucketBy(n_buckets, bucket_col))
        if sort_col is not None:
            w = w.sortBy(sort_col)
        w.saveAsTable(table)

    def compact(self, spark: SparkSession, name: str,
                target_mb: float = 256,
                partition_by: typing.Sequence[str] = ()) -> dict:
        """Small-files compaction — the Iceberg rewrite_data_files analog
        for the parquet warehouse. Streaming appends and per-batch
        dynamic-partition overwrites accumulate files far below the
        scan-efficient size; at warehouse scale the file count (driver
        listing, task scheduling, footer reads) becomes the bottleneck
        before data volume does.

        Rewrites the table into ~ceil(bytes / target_mb) files via a
        round-robin repartition. With ``partition_by``, rows are
        clustered by the partition columns plus a content-hash salt
        sized PER PARTITION VALUE from that value's actual on-disk
        bytes (read off the hive directory names during the same walk
        that counts files — no extra Spark job): only oversized values
        get salt buckets, so a 10 GB hot partition splits toward the
        byte target while small values stay one file each (an
        average-sized salt would either leave the hot value whole or
        shatter the small ones). The salt hashes only hashable columns
        (maps excluded — Spark's hash() rejects MapType). Partition
        values needing hive URL-escaping (spaces, '=', '/') won't match
        the dir-name comparison and fall back to unsalted (one file) —
        fine for the int/plain-string partition keys this warehouse
        uses.

        Swap protocol: stage to <path>.compact__, then
        rename(path -> .old__), rename(stage -> path), delete .old__.
        The two renames are not jointly atomic: a crash between them
        leaves the table briefly absent, but NO state is lost — the
        next compact() (or ``recover_compaction``, called here first)
        restores <path> from the surviving .old__ before doing anything
        else. A stale .compact__ from a crashed write is always
        discarded and rebuilt. Returns {'files_before', 'files_after',
        'bytes'}."""
        import math
        import re
        import shutil

        path = self.path(name)
        self.recover_compaction(name)

        # Guard: a bucketed table's files carry the bucket-id suffix
        # (part-...-<uuid>_00003.c000...). A plain repartition rewrite
        # would break Spark's bucket-file naming contract (the catalog
        # would still claim n_buckets hash-clustered files), silently
        # un-bucketing every subsequent join. Re-clustering is the only
        # valid "compaction" for these: call write_bucketed again.
        bucket_file = re.compile(r"_\d{5}\.c\d{3}")
        for root_, _dirs, names_ in os.walk(path):
            for f in names_:
                if f.endswith(self.suffix) and bucket_file.search(f):
                    raise ValueError(
                        "compact() refused: {!r} is a bucketed table "
                        "(bucket-suffixed files like {!r}); a plain rewrite "
                        "would break the bucket-file contract — rewrite via "
                        "write_bucketed instead".format(name, f))

        def _stats(p):
            files = bytes_ = 0
            for root, _dirs, names in os.walk(p):
                for f in names:
                    if f.endswith(self.suffix):
                        files += 1
                        bytes_ += os.path.getsize(os.path.join(root, f))
            return files, bytes_

        files_before, total = _stats(path)
        target_bytes = target_mb * 1024.0 * 1024.0
        n_out = max(1, math.ceil(total / target_bytes))
        df = spark.read.format(self.fmt).load(path)
        stage = path + ".compact__"
        shutil.rmtree(stage, ignore_errors=True)
        if partition_by:
            # per-VALUE bytes from the hive dir layout ("p=1/q=2/...")
            value_bytes: typing.Dict[str, int] = {}
            for root, _dirs, names in os.walk(path):
                rel = os.path.relpath(root, path)
                if not names or rel == ".":
                    continue
                sz = sum(os.path.getsize(os.path.join(root, f))
                         for f in names if f.endswith(self.suffix))
                if sz:
                    value_bytes[rel] = value_bytes.get(rel, 0) + sz
            from pyspark.sql import types as _T

            hashable = [f.name for f in df.schema.fields
                        if not isinstance(f.dataType, _T.MapType)]
            # salt only the oversized values; everything else -> bucket 0
            value_expr = F_concat_ws(
                "/", *[F_concat_ws("=", F_lit(c), F_col(c).cast("string"))
                       for c in partition_by])
            salt = F_lit(0)
            for rel, sz in value_bytes.items():
                k = math.ceil(sz / target_bytes)
                if k > 1:
                    salt = F_when(
                        value_expr == rel,
                        F_pmod(F_hash(*[F_col(c) for c in hashable]), k),
                    ).otherwise(salt)
            (df.repartition(max(n_out, len(value_bytes) or 1),
                            *([F_col(c) for c in partition_by] + [salt]))
               .write.mode("overwrite").partitionBy(*partition_by)
               .format(self.fmt).save(stage))
        else:
            (df.repartition(n_out).write.mode("overwrite")
               .format(self.fmt).save(stage))
        old = path + ".old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(stage, path)
        shutil.rmtree(old)
        files_after, _ = _stats(path)
        return {"files_before": files_before, "files_after": files_after,
                "bytes": total}

    def recover_compaction(self, name: str) -> bool:
        """Restore a table stranded by a crash inside compact()'s rename
        window: if <path> is missing but <path>.old__ survived, rename it
        back. Returns True when a recovery happened. Safe to call any
        time (no-op when the table is healthy)."""
        path = self.path(name)
        old = path + ".old__"
        if not os.path.exists(path) and os.path.isdir(old):
            os.rename(old, path)
            return True
        return False


def _orc_wall_clock(table: pa.Table) -> pa.Table:
    """``table`` with each UTC-instant timestamp column as the naive wall
    clock of its instant in the process's local time zone. Spark reads
    an ORC ``timestamp`` as a wall clock in the JVM's default time zone,
    which the driver JVM takes from the process's environment (the
    session time zone plays no part), and it cannot parse the ``timestamp
    with local time zone`` pyarrow writes for an instant."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            local = [None if v is None else v.astimezone().replace(tzinfo=None)
                     for v in table.column(i).to_pylist()]
            table = table.set_column(i, field.with_type(pa.timestamp("us")),
                                     pa.array(local, pa.timestamp("us")))
    return table
