"""Pure-Python Apache Iceberg v2 table format — the EXECUTED snapshot path.

The reference's whole input contract is snapshot ingest
(``Core/ValidationPipeline.cs:486-604``): one immutable bundle in, issue
list out. ``sources/iceberg.py`` implements that over the real
Iceberg-Spark runtime, but this container has no ``iceberg-spark-runtime``
jar and no network to fetch one — so this module implements the Iceberg v2
TABLE FORMAT itself (https://iceberg.apache.org/spec/) from the public
spec, on top of two things the container does have: Spark's parquet
writer/reader and :mod:`.avro_io` (whose container framing is
cross-checked against the official Java Avro library).

What is real here (all executed in tests):

* on-disk layout ``metadata/vN.metadata.json`` + ``version-hint.text`` +
  manifest-list/manifest Avro files (Iceberg field-ids on every schema
  node) + parquet data files — a layout a real Iceberg runtime can open;
* snapshot-pinned reads (time travel by ``snapshot-id``) — the immutable
  input of one validation run;
* the ``snapshots`` metadata view;
* incremental reads between two snapshots (the changelog a resumed /
  delta-validation run consumes);
* append and overwrite commits with sequence numbers and parent links;
* small-files compaction (optionally sort-clustered), snapshot expiry
  with storage reclaim, and copy-on-write row-level deletes that rewrite
  only the files containing matching rows (:meth:`delete_rows`);
* metadata-only schema evolution (:meth:`add_column` /
  :meth:`drop_column`) — snapshots pin their schema-id, so time travel
  reads each snapshot with the columns it had;
* HIDDEN PARTITIONING (spec 'Partition Transforms'): ``bucket[N]`` (the
  spec's Murmur3 hash — conformance pinned against the published test
  vectors AND Spark's JVM Murmur3_x86_32), ``truncate[W]``,
  ``year/month/day/hour`` — queries filter the SOURCE column and
  ``read(partition_filter=...)`` maps the predicate onto partition values
  at planning time, including (lo, hi) ranges on order-preserving
  transforms.

* merge-on-read row-level ops (position + equality delete files), with
  compaction materializing the delete debt;
* BRANCH refs and fast-forward publish — the write-audit-publish (WAP)
  staging pattern (:meth:`PyIcebergTable.branch` /
  :meth:`PyIcebergTable.fast_forward`);
* optimistic-concurrency commits: metadata-version CAS via
  write-if-absent, with sequence-number inheritance (spec 'Sequence
  Number Inheritance') so a lost race REBASES a pure append onto the new
  head and retries — only the manifest list rewrites, never data files
  or manifests; snapshot-scoped operations (COW delete/merge, compact)
  surface :class:`CommitConflictError` instead of silently rebasing.

Non-goals (use the real runtime via ``sources/iceberg.py`` on a cluster):
column rename/retype beyond :meth:`PyIcebergTable.rename_column` /
:meth:`PyIcebergTable.widen_column`, catalog services beyond the
path-based Hadoop layout, and cross-process distributed locking (the CAS
primitive is atomic on HDFS create; object stores want a conditional-put
backend).
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import struct
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from . import avro_io

FORMAT_VERSION = 2


class CommitConflictError(RuntimeError):
    """Another writer committed the metadata version this commit was built
    on. Append commits rebase and retry automatically (optimistic
    concurrency — see :meth:`PyIcebergTable._commit_entries`); operations
    whose correctness depends on the snapshot they scanned (COW deletes /
    merges, compaction, metadata rewrites) surface this for the caller to
    re-run against the new table state."""


# ----------------------------------------------------------- FS utilities --

from ..fsutil import (delete as _fs_delete, exists as _exists,  # noqa: E402
                      jfs as _jfs, list_files as _list_files,
                      read_bytes as _read_bytes, write_bytes as _write_bytes)


# --------------------------------------------------- Iceberg schema (JSON) --

_PRIMITIVES = {
    T.StringType: "string", T.LongType: "long", T.IntegerType: "int",
    T.ShortType: "int", T.ByteType: "int", T.DoubleType: "double",
    T.FloatType: "float", T.BooleanType: "boolean", T.BinaryType: "binary",
    T.DateType: "date",
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt: T.DataType, ids: _IdGen) -> Any:
    for cls, name in _PRIMITIVES.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = ids.next()
        return {"type": "list", "element-id": eid,
                "element": _iceberg_type(dt.elementType, ids),
                "element-required": not dt.containsNull}
    if isinstance(dt, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {"type": "map", "key-id": kid,
                "key": _iceberg_type(dt.keyType, ids),
                "value-id": vid,
                "value": _iceberg_type(dt.valueType, ids),
                "value-required": not dt.valueContainsNull}
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = ids.next()
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": _iceberg_type(f.dataType, ids)})
        return {"type": "struct", "fields": fields}
    raise ValueError(f"unsupported Spark type {dt.simpleString()}")


def _iceberg_schema(schema: T.StructType) -> dict:
    ids = _IdGen()
    fields = []
    for f in schema.fields:
        fid = ids.next()
        fields.append({"id": fid, "name": f.name,
                       "required": not f.nullable,
                       "type": _iceberg_type(f.dataType, ids)})
    return {"type": "struct", "schema-id": 0, "fields": fields,
            "last-column-id": ids.last}


# ------------------------------------------------- manifest Avro schemas ----

def _schema_by_id(meta: dict, schema_id: int | None = None) -> dict:
    """The table's schema dict for ``schema_id`` (default: current) —
    schema evolution appends new entries to ``schemas``; every reader
    resolves through here, never ``schemas[0]``."""
    sid = meta["current-schema-id"] if schema_id is None else schema_id
    return next(s for s in meta["schemas"] if s["schema-id"] == sid)


def _spec_by_id(meta: dict, spec_id: int | None = None) -> dict:
    """The partition spec for ``spec_id`` (default: the table's default
    spec) — partition EVOLUTION appends new specs; every manifest records
    which spec shaped its partition values."""
    sid = meta.get("default-spec-id", 0) if spec_id is None else spec_id
    return next(s for s in meta["partition-specs"] if s["spec-id"] == sid)


def _partition_avro_fields(table_meta: dict,
                           spec_id: int | None = None) -> list[dict]:
    """Avro fields of the r102 partition record for one spec — typed by
    the TRANSFORM's result (bucket/year/month/day/hour -> int,
    identity/truncate -> the source type)."""
    spec = _spec_by_id(table_meta, spec_id)
    out = []
    for pf in spec["fields"]:
        rt = _PartField(table_meta, pf).result_type()
        atype = {"string": "string", "int": "int", "long": "long"}.get(rt)
        if atype is None:
            raise ValueError(
                f"partition result type {rt!r} not supported")
        out.append({"name": pf["name"], "type": ["null", atype],
                    "default": None, "field-id": pf["field-id"]})
    return out


def _manifest_schema(table_meta: dict, spec_id: int | None = None) -> dict:
    """manifest_entry record (Iceberg spec 'Manifests', v2 field ids)."""
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102",
                        "fields": _partition_avro_fields(table_meta,
                                                         spec_id)}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    # EQUALITY-DELETE files (content=2) name the field ids
                    # their rows match on; null for data/position files.
                    # Nullable-with-default keeps old manifests readable
                    # (Avro decodes with the writer's embedded schema).
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "default": None, "field-id": 135},
                ]}},
        ]}


MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ]}


# position-delete file schema (Iceberg spec 'Position Delete Files':
# field-ids 2147483546/2147483545): one row per deleted position, sorted by
# (file_path, pos) within each written file
_DELETE_FILE_SCHEMA = T.StructType([
    T.StructField("file_path", T.StringType(), False),
    T.StructField("pos", T.LongType(), False),
])


# ------------------------------------------------- partition transforms ----
#
# Iceberg's HIDDEN PARTITIONING (spec 'Partition Transforms'): the table
# partitions on a value DERIVED from a source column — bucket[N] (Murmur3
# hash mod N), truncate[W], year/month/day/hour — and readers keep querying
# the SOURCE column; the engine maps source predicates onto partition
# values at planning time. At 10^12 rows this is the difference between a
# full manifest scan and opening one bucket / one day of files, without
# the query ever naming the derived value.

_M32 = 0xFFFFFFFF


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """Reference Murmur3 x86 32-bit (Iceberg spec Appendix B) — the
    Python-side twin of :func:`_murmur3_long_expr`, used to transform
    ``partition_filter`` values and as the string-bucket hash. Returns the
    SIGNED int32 (Java semantics). Conformance is pinned two independent
    ways in tests: the spec's published vectors (int 34, 'iceberg') and
    Spark's own JVM Murmur3_x86_32 via ``F.hash`` at seed 42."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    nblocks = len(data) - len(data) % 4
    for i in range(0, nblocks, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    tail = data[nblocks:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _mul32(x: Column, c: int) -> Column:
    """(x * c) mod 2^32 for 0 <= x < 2^32 held in a long, WITHOUT the
    64-bit product (x*c can exceed a signed long, which aborts under ANSI):
    split the constant into 16-bit halves — every intermediate stays under
    2^33."""
    lo = x.bitwiseAND(F.lit(0xFFFF))
    hi = F.shiftright(x, 16)           # x < 2^32 and non-negative
    mid = (lo * F.lit(c >> 16) + hi * F.lit(c & 0xFFFF)
           ).bitwiseAND(F.lit(0xFFFF))
    return (lo * F.lit(c & 0xFFFF) + F.shiftleft(mid, 16)
            ).bitwiseAND(F.lit(_M32))


def _rotl32(x: Column, r: int) -> Column:
    return (F.shiftleft(x, r).bitwiseOR(F.shiftright(x, 32 - r))
            ).bitwiseAND(F.lit(_M32))


def _murmur3_long_expr(col: Column) -> Column:
    """Murmur3 x86_32 (seed 0) of a LONG's 8-byte little-endian encoding —
    Iceberg's ``bucket`` hash for int/long sources — as a pure Catalyst
    expression chain (~60 codegen ops: masked uint32 arithmetic in longs,
    no UDF). Returns the hash as an UNSIGNED value in a long; bucket =
    ``(h & 0x7FFFFFFF) % N``."""
    v = col.cast("long")
    k1 = v.bitwiseAND(F.lit(_M32))          # bytes 0-3 (LE low word)
    k2 = F.shiftrightunsigned(v, 32)        # bytes 4-7
    h = F.lit(0).cast("long")
    for k in (k1, k2):
        k = _mul32(k, 0xCC9E2D51)
        k = _rotl32(k, 15)
        k = _mul32(k, 0x1B873593)
        h = h.bitwiseXOR(k)
        h = _rotl32(h, 13)
        h = (h * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32))
    h = h.bitwiseXOR(F.lit(8))              # total length in bytes
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = _mul32(h, 0x85EBCA6B)
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = _mul32(h, 0xC2B2AE35)
    return h.bitwiseXOR(F.shiftright(h, 16))


def _bucket_str_udf(n: int):
    """Arrow-batched bucket hash for STRING sources (variable-length input
    has no fixed block structure for the Catalyst chain; same documented
    pandas-UDF tier as text.normalize_text — never per-row Python in a
    scan, this runs once per written row at commit time)."""
    import pandas as pd

    def _b(s):
        return s.map(lambda x: None if x is None else
                     (_murmur3_32(x.encode("utf-8")) & 0x7FFFFFFF) % n)

    _b.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_b, "int")


def _bucket_long_udf(n: int):
    """VECTORIZED bucket hash for int/long sources: Murmur3 x86_32
    (seed 0) of the value's 8-byte little-endian encoding, computed as
    whole-array numpy uint32 arithmetic per Arrow batch (uint32 wraps
    natively — none of the masked-long gymnastics the Catalyst chain
    needs). The equivalent pure-Catalyst chain (:func:`_murmur3_long_expr`,
    kept for the conformance test) triples its expression subtree at every
    multiply — Catalyst spends ~15 s ANALYZING/compiling the ~3^8-node
    tree per plan, which dwarfs any data at write-batch scale. One numpy
    pass per batch is the faster AND simpler write path."""
    import pandas as pd
    import numpy as np

    def _b(s):
        mask = s.isna()
        v = s.fillna(0).to_numpy(dtype="int64").view(np.uint64)
        k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        k2 = (v >> np.uint64(32)).astype(np.uint32)
        h = np.zeros(len(v), dtype=np.uint32)
        for k in (k1, k2):
            k = k * np.uint32(0xCC9E2D51)
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * np.uint32(0x1B873593)
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)                    # total length in bytes
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
        out = pd.Series((h.astype(np.int64) & 0x7FFFFFFF) % n,
                        index=s.index).astype("Int32")
        out[mask] = None
        return out

    _b.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_b, "int")


def _parse_transform(t: str) -> tuple[str, int | None]:
    m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
    if m:
        arg = int(m.group(2))
        if arg < 1:
            raise ValueError(f"transform {t!r}: argument must be >= 1")
        return m.group(1), arg
    if t in ("identity", "year", "month", "day", "hour"):
        return t, None
    raise ValueError(f"unsupported partition transform {t!r}")


_EPOCH_DAY = _dt.date(1970, 1, 1)


def _to_utc_datetime(v: Any) -> _dt.datetime:
    if isinstance(v, str):
        v = _dt.datetime.fromisoformat(v)
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        v = _dt.datetime(v.year, v.month, v.day)
    if not isinstance(v, _dt.datetime):
        raise ValueError(f"expected datetime/date/ISO string, got {v!r}")
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


class _PartField:
    """Runtime interpreter of the table's (single) partition-spec field:
    the write-side derivation expression, the Python-side value transform
    for planning-time pruning, and the directory-value parser."""

    def __init__(self, meta: dict, spec_field: dict):
        self.name = spec_field["name"]
        src = next(f for f in _schema_by_id(meta)["fields"]
                   if f["id"] == spec_field["source-id"])
        self.source_name = src["name"]
        self.source_type = src["type"]
        self.kind, self.arg = _parse_transform(spec_field["transform"])

    @property
    def identity(self) -> bool:
        return self.kind == "identity"

    @property
    def monotonic(self) -> bool:
        # order-preserving transforms admit range pruning; bucket does not
        return self.kind != "bucket"

    def result_type(self) -> str:
        return (self.source_type if self.kind in ("identity", "truncate")
                else "int")

    def expr(self) -> Column:
        """The derived partition value as a Spark expression over the
        source column (NULL source -> NULL partition)."""
        c = F.col(self.source_name)
        if self.kind == "identity":
            return c
        if self.kind == "bucket":
            if self.source_type == "string":
                return _bucket_str_udf(self.arg)(c)
            return _bucket_long_udf(self.arg)(c.cast("long"))
        if self.kind == "truncate":
            if self.source_type == "string":
                return F.substring(c, 1, self.arg)
            return (c - F.pmod(c, F.lit(self.arg))).cast(
                "int" if self.source_type == "int" else "long")
        # time transforms: exact integer-µs arithmetic (pmod + div — a
        # double division loses µs precision at epoch magnitude), session-
        # timezone-independent (timestamptz is physically UTC micros)
        n = self.source_name
        if self.source_type == "date":
            days = F.datediff(c, F.lit("1970-01-01"))
        else:
            d = 86_400_000_000
            days = F.expr(f"(unix_micros(`{n}`) - "
                          f"pmod(unix_micros(`{n}`), {d})) div {d}")
        if self.kind == "hour":
            d = 3_600_000_000
            return F.expr(f"(unix_micros(`{n}`) - "
                          f"pmod(unix_micros(`{n}`), {d})) div {d}"
                          ).cast("int")
        if self.kind == "day":
            return days.cast("int")
        dcol = (c if self.source_type == "date"
                else F.date_add(F.lit("1970-01-01").cast("date"),
                                days.cast("int")))
        if self.kind == "year":
            return (F.year(dcol) - 1970).cast("int")
        return ((F.year(dcol) - 1970) * 12 + F.month(dcol) - 1).cast("int")

    def pyvalue(self, v: Any) -> Any:
        """Transform a SOURCE-column filter value to its partition value —
        how a query on the source column prunes hidden partitions."""
        if v is None:
            return None
        if self.kind == "identity":
            return v
        if self.kind == "bucket":
            data = (str(v).encode("utf-8") if self.source_type == "string"
                    else struct.pack("<q", int(v)))
            return (_murmur3_32(data) & 0x7FFFFFFF) % self.arg
        if self.kind == "truncate":
            return (str(v)[:self.arg] if self.source_type == "string"
                    else int(v) - (int(v) % self.arg))
        dt = _to_utc_datetime(v)
        if self.kind == "year":
            return dt.year - 1970
        if self.kind == "month":
            return (dt.year - 1970) * 12 + dt.month - 1
        days = (dt.date() - _EPOCH_DAY).days
        return days if self.kind == "day" else days * 24 + dt.hour

    def parse_raw(self, raw: str) -> Any:
        return int(raw) if self.result_type() in ("int", "long") else raw


# ------------------------------------------------------------------ table --

def zorder_key(df: DataFrame, cols: list[str], bits: int = 16) -> Column:
    """Z-order (Morton) curve key over 2–4 orderable columns — the sort
    key behind :meth:`PyIcebergTable.compact`'s ``zorder_by`` and usable
    directly to cluster ANY write (``df.repartitionByRange(n,
    zorder_key(df, [...]))``).

    Each column is quantized to ``bits`` equi-width buckets between its
    observed min and max (one tiny reduced aggregation — the caller is
    already rewriting the data, a 1-row agg is noise), then the bucket
    bits are interleaved column-round-robin into one long. Files written
    in Z-key order cover a narrow hyper-box on EVERY listed column, so
    per-file min/max skip indexes prune on any of them — linear sort
    gives that only for its leading column. All codegen (shift/or over
    integer buckets); NULLs quantize to bucket 0 (sort first, same
    convention as Spark's nulls-first default); a constant column
    contributes nothing (all rows bucket 0). Numeric, date and timestamp
    columns only — hashing strings would destroy the locality the curve
    exists to create.

    ``bits × len(cols)`` must fit a signed long (≤ 63); the 16-bit
    default resolves 65k buckets per dimension, far below file
    granularity at any scale.
    """
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder_key takes 2-4 columns")
    if bits * len(cols) > 63:
        raise ValueError(f"bits*cols must be <= 63 "
                         f"(got {bits}x{len(cols)})")
    from pyspark.sql.types import (DateType, NumericType, TimestampNTZType,
                                   TimestampType)
    exprs = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            exprs.append(F.unix_micros(F.col(c).cast("timestamp")))
        elif isinstance(dt, DateType):
            exprs.append(F.datediff(F.col(c), F.lit("1970-01-01")))
        elif isinstance(dt, NumericType):
            exprs.append(F.col(c).cast("double"))
        else:
            raise ValueError(
                f"zorder_by column {c!r} is {dt.simpleString()}; only "
                "numeric/date/timestamp columns keep curve locality")
    bounds = df.agg(*[f(e).alias(f"{n}{i}") for i, e in enumerate(exprs)
                      for n, f in (("lo", F.min), ("hi", F.max))]).first()
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, e in enumerate(exprs):
        lo, hi = bounds[f"lo{i}"], bounds[f"hi{i}"]
        if lo is None or hi is None or float(hi) == float(lo):
            continue  # all-null or constant: every row bucket 0
        span = float(hi) - float(lo)
        q = F.least(F.lit(top), F.greatest(F.lit(0), F.floor(
            (e.cast("double") - F.lit(float(lo))) / F.lit(span)
            * F.lit(top)))).cast("long")
        q = F.coalesce(q, F.lit(0))  # NULLs sort first
        for b in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)),
                b * len(cols) + i))
    return z


class PyIcebergTable:
    """A path-based ('Hadoop catalog' layout) Iceberg v2 table."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location.rstrip("/")

    # -------------------------------------------------------- metadata IO --

    @property
    def _meta_dir(self) -> str:
        return f"{self.location}/metadata"

    def _current_version(self) -> int:
        hint = f"{self._meta_dir}/version-hint.text"
        if not _exists(self.spark, hint):
            raise FileNotFoundError(f"no Iceberg table at {self.location}")
        v = int(_read_bytes(self.spark, hint).decode().strip())
        # the hint is advisory (real Hadoop-catalog semantics): a writer
        # that crashed between creating vN+1 and updating the hint — or a
        # lost race between two hint writes — leaves it stale. The version
        # FILES are the CAS ground truth, so probe forward to the newest
        # one; committing against a stale version would fail the
        # write-if-absent check and spuriously conflict.
        while _exists(self.spark,
                      f"{self._meta_dir}/v{v + 1}.metadata.json"):
            v += 1
        return v

    def _load_meta(self) -> dict:
        return self._load_meta_versioned()[0]

    def _load_meta_versioned(self) -> tuple[dict, int]:
        """(metadata, the version it was read at) — commits must build on
        the version they actually LOADED: re-reading the hint at commit
        time could observe a concurrent writer's newer version and pass the
        write-if-absent CAS with stale snapshot state, silently dropping
        the other writer's snapshot."""
        v = self._current_version()
        meta = json.loads(_read_bytes(
            self.spark, f"{self._meta_dir}/v{v}.metadata.json").decode())
        return meta, v

    def _commit_meta(self, meta: dict, old_version: int) -> None:
        """Publish ``meta`` as version ``old_version + 1`` via
        write-if-absent CAS on the version file. Raises
        :class:`CommitConflictError` when another writer won the version —
        the caller decides whether the operation is rebase-safe (see
        :meth:`_commit_entries`). The create-with-overwrite=false is the
        atomic primitive on HDFS; on local/object stores the pre-check
        narrows the race window and the retry loop absorbs the rest."""
        new_v = old_version + 1
        path = f"{self._meta_dir}/v{new_v}.metadata.json"
        if _exists(self.spark, path):
            raise CommitConflictError(
                f"concurrent commit detected: {path} already exists")
        meta.setdefault("metadata-log", []).append(
            {"timestamp-ms": _now_ms(),
             "metadata-file": f"{self._meta_dir}/v{old_version}"
                              ".metadata.json"})
        try:
            _write_bytes(self.spark, path,
                         json.dumps(meta, indent=2).encode(),
                         overwrite=False)
        except Exception as exc:               # create(overwrite=false) lost
            meta["metadata-log"].pop()         # keep meta reusable for rebase
            if "AlreadyExists" in str(exc) or "already exists" in str(exc):
                raise CommitConflictError(
                    f"concurrent commit detected: lost the create race "
                    f"for {path}") from exc
            raise
        _write_bytes(self.spark, f"{self._meta_dir}/version-hint.text",
                     str(new_v).encode())

    # ------------------------------------------------------------- create --

    _TRANSFORM_SOURCES = {
        "identity": ("string", "int", "long"),
        "bucket": ("string", "int", "long"),
        "truncate": ("string", "int", "long"),
        "year": ("date", "timestamptz"),
        "month": ("date", "timestamptz"),
        "day": ("date", "timestamptz"),
        "hour": ("timestamptz",),
    }

    @classmethod
    def _build_spec_field(cls, ice_fields: list[dict],
                          partition_by: str | tuple[str, str],
                          field_id: int) -> dict:
        col, transform = (partition_by if isinstance(partition_by, tuple)
                          else (partition_by, "identity"))
        kind, _arg = _parse_transform(transform)
        src = next((f for f in ice_fields if f["name"] == col), None)
        if src is None:
            raise ValueError(f"partition column {col!r} not in "
                             f"schema {[f['name'] for f in ice_fields]}")
        if src["type"] not in cls._TRANSFORM_SOURCES[kind]:
            raise ValueError(
                f"transform {transform!r} supports "
                f"{'/'.join(cls._TRANSFORM_SOURCES[kind])} sources, "
                f"got {src['type']}")
        pname = (col if kind == "identity" else
                 f"{col}_trunc" if kind == "truncate" else
                 f"{col}_{kind}")
        if kind != "identity" and any(f["name"] == pname
                                      for f in ice_fields):
            # the derived directory column would shadow a real data
            # column on write and double-parse on read — broken table
            # with no actionable error until the first append
            raise ValueError(
                f"derived partition field name {pname!r} collides with "
                f"schema column {pname!r} — rename the column or pick a "
                f"different transform source")
        return {"name": pname, "transform": transform,
                "source-id": src["id"], "field-id": field_id}

    @staticmethod
    def _partition_items(partition_by) -> list:
        """Normalize a ``partition_by`` argument: ``None`` → no fields,
        a string → one identity field, a ``(col, transform)`` 2-tuple →
        one transformed field, a LIST → a multi-field spec whose items
        are each a string, ``(col,)`` or ``(col, transform)``."""
        if partition_by is None:
            return []
        if isinstance(partition_by, str):
            return [partition_by]
        if isinstance(partition_by, tuple):
            return [partition_by]              # single (col, transform)
        items = []
        for it in partition_by:
            if isinstance(it, tuple) and len(it) == 1:
                items.append(it[0])
            elif isinstance(it, (str, tuple)):
                items.append(it)
            else:
                raise ValueError(f"bad partition_by item {it!r}")
        names = [it if isinstance(it, str) else it[0] for it in items]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate partition source in {names}")
        # derived FIELD names must be unique too: ('ts_day', identity)
        # + ('ts', 'day') both derive 'ts_day' and would write two
        # directory levels under one name
        derived = []
        for it in items:
            col, tr = (it if isinstance(it, tuple) else (it, "identity"))
            kind = tr.split("[", 1)[0]
            derived.append(col if kind == "identity"
                           else f"{col}_trunc" if kind == "truncate"
                           else f"{col}_{kind}")
        if len(set(derived)) != len(derived):
            raise ValueError(
                f"partition spec derives duplicate field names {derived}")
        return items

    @classmethod
    def create(cls, spark: SparkSession, location: str,
               schema: T.StructType,
               partition_by: str | tuple[str, str] | list | None = None
               ) -> "PyIcebergTable":
        """Create an empty v2 table. ``partition_by`` is either a column
        name (identity partitioning, as before) or ``(column, transform)``
        for Iceberg HIDDEN partitioning — transforms ``bucket[N]`` /
        ``truncate[W]`` (string/int/long sources) and ``year`` / ``month``
        / ``day`` / ``hour`` (date/timestamp sources). The table then
        physically clusters on the DERIVED value (``doc_id_bucket=7/``,
        ``ts_day=19723/``) while readers keep filtering on the SOURCE
        column: ``read(partition_filter={"ts": (lo, hi)})`` maps the
        source predicate onto partition values at planning time — the
        mechanism that lets a 10^12-row table prune to one day / one hash
        bucket without the query ever naming the layout.

        A LIST builds a MULTI-FIELD spec — the canonical 100-TB layout
        partitions on two dimensions at once, e.g.
        ``partition_by=["source", ("ts", "day")]`` nests
        ``source=web/ts_day=19723/`` so a read filtered on either (or
        both) prunes at the manifest level."""
        t = cls(spark, location)
        ice_schema = _iceberg_schema(schema)
        last_col = ice_schema.pop("last-column-id")
        spec_fields = [cls._build_spec_field(ice_schema["fields"],
                                             item, 1000 + i)
                       for i, item in
                       enumerate(cls._partition_items(partition_by))]
        meta = {
            "format-version": FORMAT_VERSION,
            "table-uuid": str(uuid.uuid4()),
            "location": t.location,
            "last-sequence-number": 0,
            "last-updated-ms": _now_ms(),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        path = f"{t._meta_dir}/v1.metadata.json"
        if _exists(spark, f"{t._meta_dir}/version-hint.text"):
            raise RuntimeError(f"table already exists at {location}")
        _write_bytes(spark, path, json.dumps(meta, indent=2).encode())
        _write_bytes(spark, f"{t._meta_dir}/version-hint.text", b"1")
        return t

    @classmethod
    def exists(cls, spark: SparkSession, location: str) -> bool:
        return _exists(spark,
                       f"{location.rstrip('/')}/metadata/version-hint.text")

    # ------------------------------------------------------------ commits --

    def append(self, df: DataFrame,
               summary_extra: dict[str, str] | None = None,
               properties_extra: dict[str, str] | None = None,
               branch: str = "main") -> int:
        """Append commit: parquet data files + one new manifest; the new
        snapshot's manifest list = previous list + the new manifest.
        Returns the new snapshot id. ``summary_extra`` adds caller keys to
        the snapshot summary ATOMICALLY with the commit — e.g. a streaming
        sink's epoch marker, so replay dedup can never disagree with what
        was actually committed (Iceberg snapshot summaries carry
        engine-specific keys the same way). ``properties_extra`` upserts
        TABLE properties in the same atomic metadata commit — unlike a
        snapshot summary, properties survive ``compact`` and
        ``expire_snapshots`` (every lifecycle op carries the loaded
        properties map forward)."""
        return self._commit(df, operation="append",
                            summary_extra=summary_extra,
                            properties_extra=properties_extra,
                            branch=branch)

    def overwrite(self, df: DataFrame) -> int:
        """Overwrite commit: the new snapshot's manifest list contains ONLY
        the new manifest — readers of this snapshot see only the new data;
        older snapshots still time-travel to the old files."""
        return self._commit(df, operation="overwrite")

    def delete_rows(self, predicate: str,
                    stats_filter: dict[str, tuple] | None = None,
                    mode: str = "cow") -> dict:
        """Row-level DELETE — the GDPR / takedown primitive a 10^12-row
        training-data table needs: remove every row matching ``predicate``
        (a Spark SQL boolean expression over the table's columns), in one
        of two physical strategies:

        ``mode="cow"`` (copy-on-write, default): rewrite ONLY the files
        that actually contain matching rows; every other live file is
        carried into the new snapshot untouched (status EXISTING), so the
        IO cost is proportional to the matched data, not the table.

        ``mode="mor"`` (merge-on-read, Iceberg v2 POSITION DELETES): write
        tiny delete files holding ``(file_path, pos)`` of the matched rows
        and commit them as a delete manifest (manifest-list ``content=1``)
        — ZERO data files rewritten. Readers anti-join the positions at
        scan time (only files actually referenced by a delete pay the
        join; the rest stream through untouched). The scale story: a
        100-row takedown against 512 MB files costs ~KB of writes instead
        of rewriting gigabytes; :meth:`compact` later MATERIALIZES the
        deletes (rewrites the data, drops the delete files) to restore
        zero-overhead reads.

        Three pruning layers keep the touched set small at scale:

        1. ``stats_filter`` (``{col: (lo, hi)}``, optional) prunes
           candidate files at PLANNING time through the per-file skip
           index — zero IO for files whose bounds cannot match;
        2. the probe scan pushes ``predicate`` to parquet, so row-group
           stats prune reads inside the surviving candidates;
        3. only files where the probe finds ≥1 matching row are rewritten
           (COW) / referenced by the delete file (MOR).

        Older snapshots still time-travel to the pre-delete data (reclaim
        with :meth:`expire_snapshots`). ``incremental()`` reads across the
        delete commit see only genuinely ADDED files, never the carried
        ones. Returns ``{"snapshot_id", "files_rewritten",
        "files_carried", "rows_deleted"}`` (MOR always reports
        ``files_rewritten=0``); matching nothing is a no-op (no new
        snapshot, ``snapshot_id`` is the current one)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        meta, old_version = self._load_meta_versioned()
        pred = F.expr(predicate)
        live = self._live_entries(meta, None)
        dels = self._live_delete_entries(meta, None)
        candidates = self._cow_candidates(meta, live, stats_filter)
        if mode == "mor":
            return self._delete_rows_mor(meta, old_version, pred, live,
                                         dels, candidates)
        seqs = self._seqs_of(live)
        affected = self._probe_affected(meta, candidates,
                                        lambda df: df.where(pred), dels,
                                        seqs)
        if not affected:
            return {"snapshot_id": meta["current-snapshot-id"],
                    "files_rewritten": 0, "files_carried": len(live),
                    "rows_deleted": 0}
        # SQL DELETE semantics: only rows where the predicate is TRUE go —
        # NULL-evaluating rows survive. A bare ~pred would drop them in
        # rewritten files while identical rows in carried files persist
        # (same data, different fate per file). Prior MOR deletes are
        # applied to the rewrite scan so their rows never resurrect.
        survivors = (self._read_files_mor(
                         meta, sorted((p, candidates[p]) for p in affected),
                         None, dels, seqs)
                     .where(F.coalesce(~pred, F.lit(True))))
        new_sid, n_carried = self._cow_commit(meta, old_version, live,
                                              affected, survivors, "delete")
        return {"snapshot_id": new_sid, "files_rewritten": len(affected),
                "files_carried": n_carried,
                "rows_deleted": sum(affected.values())}

    def _delete_rows_mor(self, meta: dict, old_version: int, pred,
                         live: list, dels: list,
                         candidates: dict[str, int]) -> dict:
        """Merge-on-read half of :meth:`delete_rows`: ONE filter-pushed
        scan over the pruned candidates (prior deletes applied, so a row
        is never deleted twice and ``rows_deleted`` stays honest) yields
        ``(file_path, pos)`` rows, written as position-delete parquet and
        committed as a ``content=1`` manifest appended to the previous
        manifest list — data files untouched by construction."""
        no_op = {"snapshot_id": meta["current-snapshot-id"],
                 "files_rewritten": 0, "files_carried": len(live),
                 "rows_deleted": 0}
        if not candidates:
            return no_op
        scan = self._pos_scan(meta, sorted(candidates.items()))
        if dels:
            scan = self._apply_deletes(scan, dels, meta,
                                       self._seqs_of(live))
        # map the scan's decoded last-two-segment key back to the
        # manifest's canonical path (a tiny dim — one row per candidate
        # file — broadcast onto the hit positions)
        mapping = self.spark.createDataFrame(
            [(self._fkey(p), p) for p in sorted(candidates)],
            "_mk string, file_path string")
        hits = (scan.where(pred)
                .select(F.col("_rk").alias("_mk"),
                        F.col("_rpos").alias("pos"))
                .join(F.broadcast(mapping), "_mk")
                .select("file_path", "pos"))
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        n = max(1, min(len(candidates),
                       self.spark.sparkContext.defaultParallelism))
        tmp_dir = f"{self.location}/_staging/{uuid.uuid4().hex}"
        (hits.repartition(n, "file_path")
             .sortWithinPartitions("file_path", "pos")
             .write.parquet(tmp_dir))
        entries = self._manifest_entries(tmp_dir, snapshot_id, seq, None,
                                         _DELETE_FILE_SCHEMA)
        entries = [e for e in entries
                   if e["data_file"]["record_count"] > 0]
        if not entries:
            _fs_delete(self.spark, tmp_dir, best_effort=True)
            return no_op
        for e in entries:
            e["data_file"]["content"] = 1          # POSITION_DELETES
            e["_mcontent"] = 1                     # -> delete manifest
        self._promote_files(tmp_dir, entries)
        rows_deleted = sum(e["data_file"]["record_count"] for e in entries)
        new_sid = self._commit_entries(meta, old_version, entries, "delete",
                                       snapshot_id, seq,
                                       carry_previous=True)
        return {"snapshot_id": new_sid, "files_rewritten": 0,
                "files_carried": len(live), "rows_deleted": rows_deleted}

    def merge_rows(self, updates: DataFrame, key: str | list[str],
                   stats_filter: dict[str, tuple] | None = None,
                   null_safe: bool = False, mode: str = "cow",
                   summary_extra: dict[str, str] | None = None,
                   properties_extra: dict[str, str] | None = None) -> dict:
        """Copy-on-write MERGE (upsert): every table row whose ``key``
        matches a row of ``updates`` is REPLACED by the update rows for
        that key; update keys absent from the table INSERT — Iceberg's
        ``MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``
        for whole rows. Only files actually containing matched keys are
        rewritten; every other live file is carried untouched, so the IO
        cost is O(matched files + updates), never O(table) — the way a
        10^12-row lineage/metrics table absorbs a batch of marker upserts.

        ``updates`` must carry the table's current columns (missing ones
        raise). ``stats_filter`` optionally prunes probe candidates at
        planning time via the skip index (pass the key range of the
        batch). ``null_safe=True`` matches keys with NULL-equals-NULL
        semantics (eqNullSafe — needed when a key part is nullable, e.g.
        the lineage table's rule_id). Returns ``{"snapshot_id",
        "files_rewritten", "files_carried", "rows_replaced",
        "rows_written"}``.

        ``mode="mor"`` commits the upsert as a ROW DELTA instead (the
        Iceberg streaming-CDC pattern): ONE commit carrying the appended
        update rows (data manifest) plus an EQUALITY-DELETE of their keys
        (delete manifest). Zero table scans, zero files rewritten — the
        old versions disappear at read time because the equality delete
        applies only to files with a LOWER sequence number than the
        commit, which the freshly appended files are not. MOR key
        matching is always null-safe; ``stats_filter`` is unused (there
        is no probe). Returns ``{"snapshot_id", "files_rewritten": 0,
        "rows_written", "keys_deleted"}``."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        meta, old_version = self._load_meta_versioned()
        keys = [key] if isinstance(key, str) else list(key)
        # resolve columns from the metadata already in hand — a fresh
        # self.schema() read could observe a NEWER schema than the
        # version this commit builds on
        table_cols = _spark_schema(_schema_by_id(meta)).fieldNames()
        missing = [c for c in table_cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates missing table columns {missing}")
        for k in keys:
            if k not in table_cols:
                raise ValueError(f"key column {k!r} not in table schema "
                                 f"{table_cols}")
        updates = updates.select(*table_cols)
        key_df = updates.select(*keys).dropDuplicates(keys)

        if mode == "mor":
            seq = meta["last-sequence-number"] + 1
            snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
            data_entries = self._stage_data(meta, updates, snapshot_id,
                                            seq)
            del_entries = self._stage_eq_delete(meta, key_df, snapshot_id,
                                                seq)
            new_sid = self._commit_entries(
                meta, old_version, data_entries + del_entries, "merge",
                snapshot_id, seq, carry_previous=True,
                summary_extra=summary_extra,
                properties_extra=properties_extra)
            return {"snapshot_id": new_sid, "files_rewritten": 0,
                    "rows_written": sum(e["data_file"]["record_count"]
                                        for e in data_entries),
                    "keys_deleted": sum(e["data_file"]["record_count"]
                                        for e in del_entries)}

        def _key_cond(left, right):
            cond = None
            for k in keys:
                e = (left[k].eqNullSafe(right[k]) if null_safe
                     else left[k] == right[k])
                cond = e if cond is None else cond & e
            return cond

        # persist the updates frame: it is consumed by the write AND the
        # reported rows_written count — without the cache an expensive
        # updates plan would execute twice (and a non-deterministic one
        # could report a count disagreeing with what was committed)
        updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            live = self._live_entries(meta, None)
            dels = self._live_delete_entries(meta, None)
            seqs = self._seqs_of(live)
            candidates = self._cow_candidates(meta, live, stats_filter)
            affected = self._probe_affected(
                meta, candidates,
                lambda df: df.join(key_df, _key_cond(df, key_df),
                                   "left_semi"),
                dels, seqs)
            scan = self._read_files_mor(
                meta, sorted((p, candidates[p]) for p in affected), None,
                dels, seqs)
            survivors = (scan
                         .join(key_df, _key_cond(scan, key_df), "left_anti")
                         .unionByName(updates))
            new_sid, n_carried = self._cow_commit(
                meta, old_version, live, affected, survivors, "merge",
                extra_tasks=1, summary_extra=summary_extra,
                properties_extra=properties_extra)
            return {"snapshot_id": new_sid,
                    "files_rewritten": len(affected),
                    "files_carried": n_carried,
                    "rows_replaced": sum(affected.values()),
                    "rows_written": updates.count()}
        finally:
            updates.unpersist()

    # ----------------------------------------- copy-on-write rewrite core --

    @staticmethod
    def _fkey(p: str) -> str:
        # input_file_name() returns a percent-encoded qualified URI while
        # manifest paths are plain — key both sides by the last two path
        # segments (unique: every commit prefixes a fresh uuid)
        return "/".join(p.rsplit("/", 2)[-2:])

    def _cow_candidates(self, meta: dict, live: list,
                        stats_filter: dict[str, tuple] | None
                        ) -> dict[str, int]:
        """{file path: partition_spec_id} of live files surviving the
        skip-index prune."""
        triples = [(e["data_file"]["file_path"], sid, sp)
                   for e, sid, sp in live]
        return dict(self._stats_skip(triples, stats_filter, meta))

    def _probe_affected(self, meta: dict, candidates: dict[str, int],
                        match_fn, delete_entries: list | None = None,
                        file_seqs: dict[str, int] | None = None
                        ) -> dict[str, int]:
        """{file path: matching row count} — which candidate files contain
        rows selected by ``match_fn`` (ONE filter-pushed scan). The file
        key is captured AT THE SCAN as a real column (``_metadata`` is
        materialized per-file before any exchange, so a shuffled join
        inside match_fn cannot blank it the way ``input_file_name()``
        would). Rows already removed by merge-on-read position deletes
        never count — a file whose only matches are MOR-deleted is not
        affected."""
        if not candidates:
            return {}
        scan = self._pos_scan(meta, sorted(candidates.items()))
        if delete_entries:
            scan = self._apply_deletes(scan, delete_entries, meta,
                                       file_seqs or {})
        probe = (match_fn(scan)
                 .groupBy(F.col("_rk").alias("f"))
                 .agg(F.count(F.lit(1)).alias("n"))
                 .collect())
        hit = {r["f"]: r["n"] for r in probe}
        return {p: hit[self._fkey(p)] for p in candidates
                if self._fkey(p) in hit}

    def _cow_commit(self, meta: dict, old_version: int, live: list,
                    affected: dict[str, int], replacement: DataFrame,
                    operation: str, extra_tasks: int = 0,
                    summary_extra: dict[str, str] | None = None,
                    properties_extra: dict[str, str] | None = None
                    ) -> tuple[int, int]:
        """Write ``replacement`` as new data files, carry every live file
        NOT in ``affected`` as an EXISTING manifest entry (original
        sequence numbers + skip-index bounds), commit. Returns
        (snapshot_id, files_carried)."""
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        pfs = self._part_fields(meta)

        # never increase the file count: replacement ≤ affected (+extra
        # for inserts) write tasks
        n = max(1, min(len(affected) + extra_tasks,
                       self.spark.sparkContext.defaultParallelism))
        for pf in pfs:
            if not pf.identity and pf.name not in replacement.columns:
                replacement = replacement.withColumn(pf.name, pf.expr())
        names = [pf.name for pf in pfs]
        replacement = (replacement.repartition(n, *names) if pfs
                       else replacement.repartition(n))
        tmp_dir = f"{self.location}/_staging/{uuid.uuid4().hex}"
        writer = replacement.write
        if pfs:
            writer = writer.partitionBy(*names)
        writer.parquet(tmp_dir)
        new_entries = self._manifest_entries(tmp_dir, snapshot_id, seq,
                                             pfs, replacement.schema)
        # a fully-deleted file leaves an empty replacement part — don't
        # register it (it dies with the staging dir)
        new_entries = [e for e in new_entries
                       if e["data_file"]["record_count"] > 0]
        self._promote_files(tmp_dir, new_entries)

        # carry untouched files as EXISTING entries with their original
        # sequence numbers (incremental() must not re-surface them), their
        # recorded bounds (the new snapshot's skip index must keep
        # covering them) and their ORIGINAL partition spec (after a
        # partition evolution the carried partition records are shaped by
        # the spec that wrote them — _commit_entries groups per spec)
        old_bounds: dict[str, dict] = {}
        for sid in {s for _, s, _ in live}:
            p = f"{self._meta_dir}/skipidx-{sid}.json"
            if _exists(self.spark, p):
                old_bounds.update(json.loads(
                    _read_bytes(self.spark, p).decode()))
        carried = []
        for e, _sid, sp in live:
            path = e["data_file"]["file_path"]
            if path in affected:
                # spec-faithful removal provenance: the commit's manifest
                # records the rewritten file as a DELETED (status 2) entry
                # with its original data sequence number, so entries() and
                # third-party changelog readers see WHICH commit removed
                # it. Read paths ignore status 2; expire/orphan collectors
                # do not treat a DELETED entry as a live reference.
                carried.append({**e, "status": 2, "_spec_id": sp,
                                "_bounds": {}})
                continue
            carried.append({**e, "status": 0, "_spec_id": sp,
                            "_bounds": old_bounds.get(path, {})})
        # carry live POSITION-DELETE manifests verbatim: their entries
        # referencing carried files must keep applying; entries referencing
        # rewritten files point at now-dead paths and match nothing (the
        # rewrite already materialized those deletes)
        new_sid = self._commit_entries(
            meta, old_version, carried + new_entries, operation,
            snapshot_id, seq,
            summary_extra=summary_extra,
            properties_extra=properties_extra,
            carry_manifests=self._delete_manifest_records(meta, None))
        return new_sid, sum(1 for e in carried if e["status"] == 0)

    def compact(self, target_files: int | None = None,
                sort_by: list[str] | None = None,
                zorder_by: list[str] | None = None) -> int:
        """Small-files compaction: rewrite the current snapshot's data into
        at most ``target_files`` write tasks (default: the smaller of the
        cluster parallelism and the CURRENT live file count — compaction
        must never increase the file count) via an overwrite commit. On a
        partitioned table the shuffle hashes on the partition column, so
        each partition value lands in exactly one task → one file per
        partition. Time travel to pre-compaction snapshots still works
        (their manifests reference the old files, which stay on disk;
        reclaim them with :meth:`expire_snapshots`). The operational fix
        for the many-small-appends pattern (a 10^12-row table accreting
        thousands of tiny commit files plans and opens millions of parquet
        footers without this).

        ``sort_by`` additionally CLUSTERS the rewrite on the given columns
        (range repartition + sort within each write task — Iceberg's
        ``rewrite_data_files(sort_order)``): each output file then covers
        a narrow, near-disjoint value range, so the per-file skip index
        and parquet row-group stats turn a ``stats_filter`` /pushed
        predicate on those columns into opening a handful of files instead
        of all of them. Unpartitioned tables only (a partitioned rewrite
        must hash on the partition column to keep one file per
        partition).

        ``zorder_by`` clusters on a SPACE-FILLING CURVE over 2–4 numeric
        columns instead (Iceberg's ``rewrite_data_files(strategy =>
        'sort', sort_order => 'zorder(a, b)')``): linear ``sort_by``
        gives perfect pruning on its leading column and none on the
        others, while the Z-curve keeps every file's bounding box narrow on
        EVERY listed column at once, so a ``stats_filter`` on any of
        them prunes — the multi-dimensional data-skipping layout.
        Mutually exclusive with ``sort_by``.

        Compaction also MATERIALIZES merge-on-read position deletes: the
        rewrite reads through the delete anti-join and the overwrite
        commit drops the delete manifests, so post-compaction reads pay
        zero MOR overhead (Iceberg's ``rewrite_position_deletes`` folded
        into the data rewrite)."""
        if target_files is not None and target_files < 1:
            raise ValueError("target_files must be >= 1")
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually "
                             "exclusive")
        # pin the metadata version the rewrite is PLANNED against and
        # commit on exactly that version: compact re-states the snapshot
        # it scanned, so a concurrent commit landing in between must
        # surface CommitConflictError (overwrite is not rebase-safe) —
        # re-loading fresh metadata at commit time would CAS past the
        # concurrent writer and silently drop its rows
        meta, old_version = self._load_meta_versioned()
        pinned_sid = meta["current-snapshot-id"]
        n_live = len(self._data_files(meta, None))
        n = min(target_files
                or self.spark.sparkContext.defaultParallelism,
                max(n_live, 1))
        df = self.read(None if pinned_sid == -1 else pinned_sid)
        pf = self._part_field(meta)
        if (sort_by or zorder_by) and pf:
            raise ValueError("clustered compaction supports "
                             "unpartitioned tables only")
        if sort_by:
            df = (df.repartitionByRange(n, *sort_by)
                    .sortWithinPartitions(*sort_by))
        elif zorder_by:
            z = zorder_key(df, zorder_by)
            df = (df.withColumn("__z", z)
                    .repartitionByRange(n, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z"))
        elif pf:
            # hash on the (derived) partition value: each partition value
            # lands in one task -> one file per partition
            df = df.repartition(n, pf.expr())
        else:
            df = df.repartition(n)
        return self._commit(df, operation="overwrite",
                            pinned=(meta, old_version))

    def rewrite_manifests(self) -> dict:
        """METADATA-ONLY manifest compaction (Iceberg's
        ``rewrite_manifests`` procedure): merge the current snapshot's
        accumulated small manifests into ONE manifest per partition spec
        without touching a single data file. An append chain accretes one
        manifest per commit, so after thousands of micro-batch appends
        planning a 10^12-row table opens thousands of tiny Avro files —
        this makes every later plan O(specs) instead of O(commits). Every
        live entry is carried as EXISTING with its original sequence
        number (``incremental()`` never resurfaces it) and its recorded
        skip-index bounds (stats pruning keeps working); the live file
        set is byte-identical, so :meth:`changes` across the rewrite is
        EMPTY. Older snapshots keep their manifests until
        :meth:`expire_snapshots` reclaims them. Returns ``{"snapshot_id",
        "manifests_before", "manifests_after"}``."""
        meta, old_version = self._load_meta_versioned()
        live = self._live_entries(meta, None)
        n_before = len([mf for mf in self._manifest_list(
            meta, meta["current-snapshot-id"]) if mf["content"] == 0])
        old_bounds: dict[str, dict] = {}
        for sid in {s for _, s, _ in live}:
            p = f"{self._meta_dir}/skipidx-{sid}.json"
            if _exists(self.spark, p):
                old_bounds.update(json.loads(
                    _read_bytes(self.spark, p).decode()))
        entries = [{**e, "status": 0, "_spec_id": sp,
                    "_bounds": old_bounds.get(e["data_file"]["file_path"],
                                              {})}
                   for e, _sid, sp in live]
        n_after = len({sp for _, _, sp in live})
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        new_sid = self._commit_entries(
            meta, old_version, entries, "replace", snapshot_id, seq,
            carry_manifests=self._delete_manifest_records(meta, None))
        return {"snapshot_id": new_sid, "manifests_before": n_before,
                "manifests_after": n_after}

    def rollback_to(self, snapshot_id: int) -> None:
        """Metadata-only ROLLBACK (Iceberg's ``rollback_to_snapshot``):
        point the table back at an earlier snapshot — the undo for a bad
        commit. Nothing is deleted: the abandoned snapshots stay
        time-travelable (and tagged refs keep working) until
        :meth:`expire_snapshots` reclaims them as non-ancestors; the next
        append builds on the rolled-back state."""
        meta, old_version = self._load_meta_versioned()
        snap = self._snapshot(meta, snapshot_id)      # validates existence
        now = _now_ms()
        meta["current-snapshot-id"] = snap["snapshot-id"]
        meta["refs"]["main"] = {"snapshot-id": snap["snapshot-id"],
                                "type": "branch"}
        meta["snapshot-log"].append({"timestamp-ms": now,
                                     "snapshot-id": snap["snapshot-id"]})
        meta["last-updated-ms"] = now
        self._commit_meta(meta, old_version)

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Create/replace a named REF pinning a snapshot (Iceberg tag):
        ``read(ref="v1-training")`` then always sees exactly that data —
        the reproducibility handle a dataset release wants. Tagged
        snapshots survive :meth:`expire_snapshots`. Returns the pinned
        snapshot id."""
        if name == "main":
            raise ValueError("'main' is the branch ref; use rollback_to")
        meta, old_version = self._load_meta_versioned()
        snap = self._snapshot(meta, snapshot_id)
        meta["refs"][name] = {"snapshot-id": snap["snapshot-id"],
                              "type": "tag"}
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return snap["snapshot-id"]

    def drop_tag(self, name: str) -> None:
        meta, old_version = self._load_meta_versioned()
        if meta["refs"].get(name, {}).get("type") != "tag":
            raise ValueError(f"no tag named {name!r}")
        del meta["refs"][name]
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)

    def branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create a named BRANCH ref (Iceberg branching): an independent
        line of commits starting at ``snapshot_id`` (default: the current
        main head; ``-1`` on an empty table, so the very first batch can
        be staged off-main too). ``append(df, branch=name)`` then commits
        to the branch WITHOUT moving what readers see; ``read(ref=name)``
        audits it; :meth:`fast_forward` publishes it. This is the
        write-audit-publish (WAP) pattern — the native shape for a
        validation engine: stage a batch, run the rule set against the
        staged snapshot, and only a passing verdict makes it visible.
        Returns the snapshot id the branch starts at."""
        if name == "main":
            raise ValueError("'main' already exists")
        meta, old_version = self._load_meta_versioned()
        if name in meta.get("refs", {}):
            raise ValueError(f"ref {name!r} already exists "
                             f"({meta['refs'][name]['type']})")
        sid = (meta["current-snapshot-id"] if snapshot_id is None
               else self._snapshot(meta, snapshot_id)["snapshot-id"])
        meta.setdefault("refs", {})[name] = {"snapshot-id": sid,
                                             "type": "branch"}
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return sid

    def drop_branch(self, name: str,
                    expected_head: int | None = None) -> None:
        """Drop a branch ref (e.g. a failed-audit staging branch). The
        branch's snapshots stay in metadata until
        :meth:`expire_snapshots` reclaims them as non-ancestors — exactly
        how a rejected WAP batch's files get cleaned up.

        ``expected_head`` pins the head the drop decision was made for
        (same CAS-coupled check as :meth:`fast_forward`): a branch that
        advanced after a failing audit raises instead of silently
        destroying commits that were never audited (round-5 review)."""
        if name == "main":
            raise ValueError("cannot drop the main branch")
        meta, old_version = self._load_meta_versioned()
        if meta["refs"].get(name, {}).get("type") != "branch":
            raise ValueError(f"no branch named {name!r}")
        if expected_head is not None and \
                meta["refs"][name]["snapshot-id"] != expected_head:
            raise ValueError(
                f"branch {name!r} advanced to "
                f"{meta['refs'][name]['snapshot-id']} after the audit of "
                f"{expected_head}; re-run the audit before dropping")
        del meta["refs"][name]
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)

    def fast_forward(self, name: str, to: str,
                     expected_head: int | None = None) -> int:
        """Fast-forward ref ``name`` to branch ``to``'s head (Iceberg's
        ``fast_forward`` procedure — the PUBLISH step of
        write-audit-publish). Requires ``name``'s head to be an ancestor
        of ``to``'s head (true whenever the audit branch was created from
        ``name`` and only the branch committed since); a diverged target
        raises instead of silently dropping commits. Fast-forwarding
        ``main`` makes the audited snapshots visible to every reader
        atomically. Returns the new head snapshot id.

        ``expected_head`` pins the source branch head THIS publish was
        approved for: the check runs against the same metadata load the
        commit CAS-es on, so a branch that advanced after the audit
        (e.g. a continuous-mode sink still committing) raises instead of
        publishing never-audited snapshots (round-5 review)."""
        meta, old_version = self._load_meta_versioned()
        to_ref = meta.get("refs", {}).get(to)
        if to_ref is None or to_ref.get("type") != "branch":
            raise ValueError(f"no branch named {to!r}")
        target = to_ref["snapshot-id"]
        if target == -1:
            raise ValueError(f"branch {to!r} has no commits")
        if expected_head is not None and target != expected_head:
            raise ValueError(
                f"branch {to!r} advanced to {target} after the audit of "
                f"{expected_head}; re-run the audit to cover the new "
                f"commits before publishing")
        if name == "main":
            head = meta["current-snapshot-id"]
        else:
            ref = meta.get("refs", {}).get(name)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"no branch named {name!r}")
            head = ref["snapshot-id"]
        if head == target:
            return target
        ancestors = {s["snapshot-id"]
                     for s in self._ancestors(meta, target)}
        if head != -1 and head not in ancestors:
            raise ValueError(
                f"cannot fast-forward {name!r}: its head {head} is not an "
                f"ancestor of {to!r}'s head {target} (diverged — rebase "
                f"or re-stage the branch)")
        now = _now_ms()
        meta.setdefault("refs", {})[name] = {"snapshot-id": target,
                                             "type": "branch"}
        if name == "main":
            meta["current-snapshot-id"] = target
            # main's history log gains every published snapshot in chain
            # order, exactly as if they had committed to main directly
            chain = [s for s in self._ancestors(meta, target)
                     if s["snapshot-id"] not in
                     ({head} | ({s2["snapshot-id"] for s2 in
                                 self._ancestors(meta, head)}
                                if head != -1 else set()))]
            for s in reversed(chain):
                meta["snapshot-log"].append(
                    {"timestamp-ms": now, "snapshot-id": s["snapshot-id"]})
        meta["last-updated-ms"] = now
        self._commit_meta(meta, old_version)
        return target

    def _resolve_ref(self, meta: dict, ref: str) -> int:
        r = meta["refs"].get(ref)
        if r is None:
            raise ValueError(f"no ref named {ref!r} "
                             f"(have {sorted(meta['refs'])})")
        return r["snapshot-id"]

    def _ancestors(self, meta: dict, snapshot_id: int) -> list[dict]:
        """[current, parent, grandparent, ...] via parent links."""
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        out, sid = [], snapshot_id
        while sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid].get("parent-snapshot-id")
        return out

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Expire old snapshots and delete the files only they referenced
        — the storage-reclaim half of the compaction lifecycle (append →
        compact → expire), mirroring Iceberg's ``expire_snapshots``. Kept:
        the newest ``keep_last`` ANCESTORS of the current snapshot (after
        a :meth:`rollback_to`, snapshots newer by sequence number may be
        an abandoned branch — recency-based expiry would reclaim the
        current state's own history) plus every tagged snapshot, plus the
        FULL ancestor chain of every non-main branch (a staged branch's
        intermediate commits must survive maintenance or ``fast_forward``
        could no longer prove main is an ancestor — drop the branch to
        release its chain). Data
        files still referenced by a kept snapshot are never touched; the
        expired snapshots' manifest lists, no-longer-referenced manifests,
        skip indexes and orphaned data files are removed. Time travel to
        expired ids stops working (that is the point). Returns counts of
        what was deleted."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        meta, old_version = self._load_meta_versioned()
        chain = self._ancestors(meta, meta["current-snapshot-id"])
        keep_ids = {s["snapshot-id"] for s in chain[:keep_last]}
        # a BRANCH pins its FULL ancestor chain, not just its head: a
        # staged branch's intermediate commits must survive maintenance
        # or fast_forward can no longer prove main is an ancestor (and
        # the publish-time snapshot-log walk breaks on the gap). A TAG
        # pins only its snapshot — reading a pinned snapshot needs its
        # own manifest list, never its ancestors.
        for name, r in meta["refs"].items():
            if r.get("type") == "branch" and name != "main":
                keep_ids |= {s["snapshot-id"]
                             for s in self._ancestors(meta,
                                                      r["snapshot-id"])}
            else:
                # main is governed by keep_last above; tags pin only
                # their snapshot (reads need its manifest list, not its
                # ancestors)
                keep_ids.add(r["snapshot-id"])
        snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
        kept = [s for s in snaps if s["snapshot-id"] in keep_ids]
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        if not expired:
            return {"snapshots": 0, "manifests": 0, "data_files": 0}

        def manifest_info(snap_list):
            mfs = {}
            for s in snap_list:
                for mf in self._manifest_list(meta, s["snapshot-id"]):
                    mfs[mf["manifest_path"]] = mf
            return mfs

        kept_mfs = manifest_info(kept)
        expired_mfs = manifest_info(expired)
        live_files: set[str] = set()
        for mf in kept_mfs.values():
            _, _, entries = avro_io.read_container(
                _read_bytes(self.spark, mf["manifest_path"]))
            # a DELETED (status 2) entry is removal provenance, not a live
            # reference — it must not pin the dead file past expiry
            live_files |= {e["data_file"]["file_path"] for e in entries
                           if e["status"] != 2}
        dead_manifests = set(expired_mfs) - set(kept_mfs)
        dead_files: set[str] = set()
        for mp in dead_manifests:
            _, _, entries = avro_io.read_container(
                _read_bytes(self.spark, mp))
            dead_files |= {e["data_file"]["file_path"] for e in entries
                           if e["data_file"]["file_path"] not in live_files}

        # metadata first (a crash after this point leaks files, never
        # corrupts the table: readers only follow the new metadata)
        meta["snapshots"] = kept
        kept_ids = {s["snapshot-id"] for s in kept}
        meta["snapshot-log"] = [e for e in meta["snapshot-log"]
                                if e["snapshot-id"] in kept_ids]
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)

        for p in dead_files | dead_manifests:
            _fs_delete(self.spark, p, best_effort=True)
        # a kept snapshot's manifest list may still reference manifests
        # ADDED by an expired snapshot (append chains) — their files are
        # live and stats-skipping must keep working for them, so only the
        # skip indexes of snapshot ids referenced by NO kept manifest die
        live_adders = {mf["added_snapshot_id"] for mf in kept_mfs.values()}
        for s in expired:
            _fs_delete(self.spark, s["manifest-list"], best_effort=True)
            if s["snapshot-id"] not in live_adders:
                _fs_delete(
                    self.spark,
                    f"{self._meta_dir}/skipidx-{s['snapshot-id']}.json",
                    best_effort=True)
        return {"snapshots": len(expired), "manifests": len(dead_manifests),
                "data_files": len(dead_files)}

    def remove_orphan_files(self,
                            older_than_ms: int = 3 * 3600 * 1000) -> dict:
        """Delete files under ``data/`` (and dead ``_staging/`` trees)
        that NO snapshot references — the debris of crashed commits
        (Iceberg's ``remove_orphan_files`` procedure). Every commit here
        stages files then writes metadata last, so a crash leaks staged or
        promoted-but-uncommitted files that no reader can ever see; at
        micro-batch cadence that debris compounds into real storage.
        Only files older than ``older_than_ms`` (default 3 h) are swept,
        so an IN-FLIGHT commit's freshly staged files survive — a
        single-writer table can pass ``0`` to sweep everything at once.
        Metadata files are never candidates (they are tiny and the
        version chain self-describes). Returns
        ``{"orphan_files", "bytes_reclaimed"}``."""
        meta = self._load_meta()
        referenced: set[str] = set()
        for s in meta["snapshots"]:
            for mf in self._manifest_list(meta, s["snapshot-id"]):
                _, _, entries = avro_io.read_container(
                    _read_bytes(self.spark, mf["manifest_path"]))
                # decode BOTH sides of the key: manifest paths and the
                # directory listing have the same provenance, but Hive-
                # escaped partition values (':' -> '%3A') must compare
                # equal however either side happens to be encoded — a
                # one-sided decode turns live files into "orphans"
                referenced |= {
                    self._fkey(_url_decode(e["data_file"]["file_path"]))
                    for e in entries if e["status"] != 2}
        cutoff = _now_ms() - older_than_ms
        n = reclaimed = 0
        for root in (f"{self.location}/data",
                     f"{self.location}/_staging"):
            if not _exists(self.spark, root):
                continue
            for fi in _list_files(self.spark, root):
                if fi["mtime"] >= cutoff:
                    continue
                if self._fkey(_url_decode(fi["path"])) in referenced:
                    continue
                if _fs_delete(self.spark, fi["path"], best_effort=True):
                    n += 1
                    reclaimed += fi["length"]
        return {"orphan_files": n, "bytes_reclaimed": reclaimed}

    def add_column(self, name: str, dtype: T.DataType) -> int:
        """Schema evolution: ADD a nullable column (metadata-only — zero
        data files touched, the Iceberg ``ALTER TABLE ADD COLUMN``). The
        new field gets fresh Iceberg field-ids past ``last-column-id``; a
        new schema entry is appended (old schemas stay for time travel)
        and becomes current. Files written before the evolution read as
        NULL for the new column (name-based parquet resolution); snapshots
        committed before it still time-travel with THEIR schema — the new
        column does not exist there. Returns the new schema-id."""
        meta, old_version = self._load_meta_versioned()
        cur = _schema_by_id(meta)
        if any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"column {name!r} already exists")
        # the name may never have belonged to a DIFFERENT field in ANY
        # schema version (e.g. a since-renamed column): old data files
        # physically carry that name, so _read_plan's name-history
        # coalesce would pull the new field's request column out of them
        # — silent wrong data (same guard as rename_column)
        for s in meta["schemas"]:
            clash = next((f for f in s["fields"] if f["name"] == name),
                         None)
            if clash is not None:
                raise ValueError(
                    f"cannot add {name!r}: schema {s['schema-id']} used "
                    f"that name for field id {clash['id']} — old data "
                    f"files are ambiguous under name-based resolution "
                    f"(pick a fresh name)")
        ids = _IdGen(meta["last-column-id"])
        new_field = {"id": ids.next(), "name": name, "required": False,
                     "type": _iceberg_type(dtype, ids)}
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append({"type": "struct", "schema-id": new_id,
                                "fields": cur["fields"] + [new_field]})
        meta["current-schema-id"] = new_id
        meta["last-column-id"] = ids.last
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return new_id

    def drop_column(self, name: str) -> int:
        """Schema evolution: DROP a column (metadata-only — the data files
        keep the bytes, readers of the new schema just never project
        them). Partition source columns and the last remaining column
        cannot be dropped. Pre-drop snapshots still time-travel WITH the
        column. Returns the new schema-id."""
        meta, old_version = self._load_meta_versioned()
        cur = _schema_by_id(meta)
        field = next((f for f in cur["fields"] if f["name"] == name), None)
        if field is None:
            raise ValueError(
                f"column {name!r} not in schema "
                f"{[f['name'] for f in cur['fields']]}")
        if any(pf["source-id"] == field["id"]
               for s in meta["partition-specs"] for pf in s["fields"]):
            # ANY spec (not just the default): old manifests resolve their
            # partition source columns through the current schema
            raise ValueError(f"cannot drop partition column {name!r}")
        if len(cur["fields"]) == 1:
            raise ValueError("cannot drop the last column")
        if meta["current-snapshot-id"] != -1:
            # same guard as rename_column: a live equality-delete file
            # keys on this field id — dropping it would make every later
            # read crash resolving the delete keys, and add_column's
            # any-schema name guard means no metadata op could undo it
            for e, _, _ in self._live_delete_entries(meta):
                ids = e["data_file"].get("equality_ids") or []
                if field["id"] in ids:
                    raise ValueError(
                        f"cannot drop {name!r}: live equality-delete "
                        f"files key on it — run compact() first to "
                        f"materialize the deletes")
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append(
            {"type": "struct", "schema-id": new_id,
             "fields": [f for f in cur["fields"] if f["name"] != name]})
        meta["current-schema-id"] = new_id
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return new_id

    def rename_column(self, old: str, new: str) -> int:
        """Schema evolution: RENAME a column (metadata-only — Iceberg's
        ``ALTER TABLE RENAME COLUMN``). The field keeps its field-id; a
        new schema entry becomes current. Real Iceberg resolves parquet
        columns by embedded field-id, which makes rename free; Spark's
        parquet reader resolves by NAME, so reads reconstruct the column
        as ``coalesce()`` over the field's historical names (each data
        file physically carries exactly one of them) — see
        :meth:`_read_plan`. Time travel to pre-rename snapshots still
        shows the old name (snapshots pin their schema-id).

        Guard rails (each would silently corrupt a read otherwise):

        * the new name may never collide with a name ANY schema version
          gave a DIFFERENT field — the coalesce reconstruction could not
          tell the two apart inside old files;
        * identity-partition sources cannot rename (their values come
          from directory names, which bear the old name on disk);
        * columns named by a live equality-delete file's ``equality_ids``
          cannot rename (the delete files store key columns under the old
          name; compact first to materialize the delete debt).
        """
        meta, old_version = self._load_meta_versioned()
        cur = _schema_by_id(meta)
        field = next((f for f in cur["fields"] if f["name"] == old), None)
        if field is None:
            raise ValueError(f"column {old!r} not in schema "
                             f"{[f['name'] for f in cur['fields']]}")
        for s in meta["schemas"]:
            clash = next((f for f in s["fields"] if f["name"] == new
                          and f["id"] != field["id"]), None)
            if clash is not None:
                raise ValueError(
                    f"cannot rename to {new!r}: schema "
                    f"{s['schema-id']} used that name for a different "
                    f"field (id {clash['id']}) — old data files are "
                    f"ambiguous under name-based resolution")
        for sp in meta["partition-specs"]:
            for pf in sp["fields"]:
                if (pf["source-id"] == field["id"]
                        and pf["transform"] == "identity"):
                    raise ValueError(
                        f"cannot rename identity-partition source "
                        f"{old!r}: partition directories on disk carry "
                        f"the old name")
        if meta["current-snapshot-id"] != -1:
            for e, _, _ in self._live_delete_entries(meta):
                ids = e["data_file"].get("equality_ids") or []
                if field["id"] in ids:
                    raise ValueError(
                        f"cannot rename {old!r}: live equality-delete "
                        f"files key on it under the old name — run "
                        f"compact() first to materialize the deletes")
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append(
            {"type": "struct", "schema-id": new_id,
             "fields": [({**f, "name": new} if f["id"] == field["id"]
                         else f) for f in cur["fields"]]})
        meta["current-schema-id"] = new_id
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return new_id

    _WIDENINGS = {("int", "long"), ("float", "double")}

    def widen_column(self, name: str, dtype: T.DataType) -> int:
        """Schema evolution: WIDEN a column's type (metadata-only —
        Iceberg's type-promotion rules: ``int → long``,
        ``float → double``). The field keeps its id; old data files keep
        their narrow physical type and Spark's parquet reader up-casts at
        scan time (verified: the vectorized reader reads int32 pages into
        a LongType request natively). Narrowing or unrelated retypes
        raise. Returns the new schema-id."""
        meta, old_version = self._load_meta_versioned()
        cur = _schema_by_id(meta)
        field = next((f for f in cur["fields"] if f["name"] == name), None)
        if field is None:
            raise ValueError(f"column {name!r} not in schema "
                             f"{[f['name'] for f in cur['fields']]}")
        new_t = _iceberg_type(dtype, _IdGen(10_000))
        if not isinstance(field["type"], str) or not isinstance(new_t, str):
            raise ValueError("widen_column supports primitive columns")
        if new_t != field["type"] and \
                (field["type"], new_t) not in self._WIDENINGS:
            raise ValueError(
                f"cannot retype {name!r} {field['type']} -> {new_t}: "
                f"allowed promotions are int->long and float->double")
        if new_t == field["type"]:
            return meta["current-schema-id"]
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append(
            {"type": "struct", "schema-id": new_id,
             "fields": [({**f, "type": new_t} if f["id"] == field["id"]
                         else f) for f in cur["fields"]]})
        meta["current-schema-id"] = new_id
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return new_id

    def add_files(self, files_dir: str, operation: str = "append") -> int:
        """Register externally-written parquet files into a new snapshot
        WITHOUT copying them — the pure-Python analog of Iceberg's
        ``add_files`` procedure. The files stay where they are (Iceberg
        data files may live at any absolute path); manifests, per-file
        stats and the skip index are built from one listing plus each
        file's parquet footer — no Spark job runs. The caller must not
        mutate or delete the registered files afterwards (snapshot
        immutability is theirs to keep).

        Unpartitioned tables only: external layouts don't carry the
        table's partition tree."""
        meta, old_version = self._load_meta_versioned()
        if _spec_by_id(meta)["fields"]:
            raise ValueError("add_files supports unpartitioned tables only")
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        entries = self._manifest_entries(files_dir, snapshot_id, seq,
                                         None, self.schema())
        return self._commit_entries(meta, old_version, entries, operation,
                                    snapshot_id, seq)

    def _part_field(self, meta: dict,
                    spec_id: int | None = None) -> "_PartField | None":
        """First partition field (legacy single-field call sites — only
        used where any field suffices); see :meth:`_part_fields`."""
        fields = _spec_by_id(meta, spec_id)["fields"]
        return _PartField(meta, fields[0]) if fields else None

    def _part_fields(self, meta: dict,
                     spec_id: int | None = None) -> list["_PartField"]:
        """Every partition field of a spec, in spec order — a MULTI-FIELD
        spec (e.g. ``[("source",), ("ts", "day")]``) nests its directory
        tree ``source=web/ts_day=19723/`` and prunes on each dimension
        independently."""
        return [_PartField(meta, f)
                for f in _spec_by_id(meta, spec_id)["fields"]]

    def update_partition_spec(
            self, partition_by: str | tuple[str, str] | list | None) -> int:
        """PARTITION EVOLUTION (metadata-only — the marquee Iceberg
        property: the layout changes, NOT the data): append a new default
        spec; data already written keeps its old spec and old directory
        tree, NEW commits cluster under the new one. Reads plan each
        manifest with the spec that shaped it, and ``partition_filter``
        prunes per spec — files written under a spec that does not
        transform the filtered column are conservatively kept (they may
        contain matches). At 10^12 rows this is how a table goes from
        daily to hourly partitioning (or gains a bucket dimension) with
        zero rewrite; run :meth:`compact` afterwards to migrate the old
        data into the new layout when pruning the history matters.
        ``partition_by`` as in :meth:`create`; ``None`` = unpartitioned.
        Returns the new spec-id."""
        meta, old_version = self._load_meta_versioned()
        fields = []
        for item in self._partition_items(partition_by):
            fid = meta.get("last-partition-id", 999) + 1
            fields.append(self._build_spec_field(
                _schema_by_id(meta)["fields"], item, fid))
            meta["last-partition-id"] = fid
        new_id = max(s["spec-id"] for s in meta["partition-specs"]) + 1
        meta["partition-specs"].append({"spec-id": new_id,
                                        "fields": fields})
        meta["default-spec-id"] = new_id
        meta["last-updated-ms"] = _now_ms()
        self._commit_meta(meta, old_version)
        return new_id

    def _commit(self, df: DataFrame, operation: str,
                summary_extra: dict[str, str] | None = None,
                properties_extra: dict[str, str] | None = None,
                branch: str = "main",
                pinned: tuple[dict, int] | None = None) -> int:
        # ``pinned`` = (metadata, version) a snapshot-scoped caller
        # already planned against (compact): committing on it makes the
        # CAS catch any commit that landed since planning
        meta, old_version = (pinned if pinned is not None
                             else self._load_meta_versioned())
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        entries = self._stage_data(meta, df, snapshot_id, seq)
        return self._commit_entries(meta, old_version, entries, operation,
                                    snapshot_id, seq,
                                    summary_extra=summary_extra,
                                    properties_extra=properties_extra,
                                    branch=branch)

    def _stage_data(self, meta: dict, df: DataFrame, snapshot_id: int,
                    seq: int) -> list[dict]:
        """Write ``df`` as staged data files and return their ADDED
        manifest entries. Files stage in a temp dir, then move into the
        canonical data/<col>=<val>/ layout with a unique name prefix —
        data/ stays a single consistent partition tree (the real Iceberg
        layout), and a failed write never leaves half a commit visible.
        A transform spec derives its partition value here (hidden
        partitioning: the source column stays IN the data files, the
        derived value only shapes the directory tree + manifests)."""
        pfs = self._part_fields(meta)
        tmp_dir = f"{self.location}/_staging/{uuid.uuid4().hex}"
        for pf in pfs:
            if not pf.identity and pf.name not in df.columns:
                df = df.withColumn(pf.name, pf.expr())
        writer = df.write
        if pfs:
            writer = writer.partitionBy(*[pf.name for pf in pfs])
        writer.parquet(tmp_dir)
        entries = self._manifest_entries(tmp_dir, snapshot_id, seq,
                                         pfs, df.schema)
        self._promote_files(tmp_dir, entries)
        return entries

    def _stage_eq_delete(self, meta: dict, keys: DataFrame,
                         snapshot_id: int, seq: int) -> list[dict]:
        """Write a deduplicated key set as an EQUALITY-DELETE file
        (``content=2``) and return its manifest entries (tagged for the
        delete manifest). The entry records the keys' Iceberg field ids
        (``equality_ids``) so readers know which columns to match."""
        by_name = {f["name"]: f["id"]
                   for f in _schema_by_id(meta)["fields"]}
        missing = [c for c in keys.columns if c not in by_name]
        if missing:
            raise ValueError(f"equality-delete columns {missing} not in "
                             f"table schema {sorted(by_name)}")
        ids = [by_name[c] for c in keys.columns]
        n = max(1, min(8, self.spark.sparkContext.defaultParallelism))
        tmp_dir = f"{self.location}/_staging/{uuid.uuid4().hex}"
        keys.dropDuplicates().repartition(n).write.parquet(tmp_dir)
        entries = self._manifest_entries(tmp_dir, snapshot_id, seq, None,
                                         keys.schema)
        entries = [e for e in entries
                   if e["data_file"]["record_count"] > 0]
        if not entries:
            _fs_delete(self.spark, tmp_dir, best_effort=True)
            return []
        for e in entries:
            e["data_file"]["content"] = 2          # EQUALITY_DELETES
            e["data_file"]["equality_ids"] = ids
            e["_mcontent"] = 1                     # -> delete manifest
        self._promote_files(tmp_dir, entries)
        return entries

    def delete_rows_eq(self, keys: DataFrame) -> dict:
        """EQUALITY DELETE (merge-on-read, Iceberg v2 ``content=2``):
        remove every row whose values on ``keys``'s columns match a key
        row — WITHOUT scanning the table at all. Where a position delete
        must first find the rows (one probe scan), an equality delete is
        a blind predicate: the key set itself is the delete file, applied
        at read time to data files with a LOWER sequence number (rows
        appended later — including in the same commit for
        ``merge_rows(mode='mor')`` — survive, which is exactly the CDC
        upsert ordering). Key matching is null-safe. The zero-scan write
        is what a streaming sink needs: per-batch upserts at 10^12 rows
        cannot afford a probe scan per micro-batch.

        Returns ``{"snapshot_id", "keys_deleted"}`` (the distinct key
        count — matched ROW counts are unknown by design); an empty key
        set is a no-op."""
        meta, old_version = self._load_meta_versioned()
        seq = meta["last-sequence-number"] + 1
        snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
        entries = self._stage_eq_delete(meta, keys, snapshot_id, seq)
        if not entries:
            return {"snapshot_id": meta["current-snapshot-id"],
                    "keys_deleted": 0}
        new_sid = self._commit_entries(meta, old_version, entries,
                                       "delete", snapshot_id, seq,
                                       carry_previous=True)
        return {"snapshot_id": new_sid,
                "keys_deleted": sum(e["data_file"]["record_count"]
                                    for e in entries)}

    def _commit_entries(self, meta: dict, old_version: int,
                        entries: list[dict], operation: str,
                        snapshot_id: int, seq: int,
                        summary_extra: dict[str, str] | None = None,
                        properties_extra: dict[str, str] | None = None,
                        carry_previous: bool | None = None,
                        carry_manifests: list[dict] | None = None,
                        branch: str = "main") -> int:
        # engine-level skip index (per-file column bounds) — a sidecar
        # JSON, deliberately NOT part of the Iceberg layout so the Avro
        # manifests stay strictly spec-shaped; the real-runtime analog is
        # data_file.lower_bounds/upper_bounds (spec field-ids 125/128)
        skip_index = {e["data_file"]["file_path"]: e.pop("_bounds")
                      for e in entries}
        if skip_index:
            _write_bytes(self.spark,
                         f"{self._meta_dir}/skipidx-{snapshot_id}.json",
                         json.dumps(skip_index).encode())

        # a manifest file is shaped by ONE partition spec (its r102 record
        # schema) — after a partition evolution, a COW commit carries
        # EXISTING entries written under old specs alongside new-spec ADDED
        # ones, so group by (spec, manifest content) and write one
        # manifest per group. A ROW-DELTA commit (merge-on-read upsert)
        # carries BOTH a data manifest (content 0, the appended rows) and
        # a delete manifest (content 1, position/equality delete files) —
        # entries tag themselves via "_mcontent".
        default_spec = meta.get("default-spec-id", 0)
        groups: dict[tuple[int, int], list[dict]] = {}
        for e in entries:
            key = (e.pop("_spec_id", default_spec), e.pop("_mcontent", 0))
            groups.setdefault(key, []).append(e)
        new_mfs = []
        added_rows = n_added = del_rows = n_del = 0
        for i, (sp, mc) in enumerate(sorted(groups)):
            sp_entries = groups[(sp, mc)]
            manifest_path = (f"{self._meta_dir}/"
                             f"{uuid.uuid4().hex}-m{i}.avro")
            manifest_bytes = avro_io.write_container(
                _manifest_schema(meta, sp), sp_entries,
                metadata={
                    "schema": json.dumps(_schema_by_id(meta)),
                    "schema-id": str(meta["current-schema-id"]),
                    "partition-spec":
                        json.dumps(_spec_by_id(meta, sp)["fields"]),
                    "partition-spec-id": str(sp),
                    "format-version": str(FORMAT_VERSION),
                    "content": "deletes" if mc else "data",
                })
            _write_bytes(self.spark, manifest_path, manifest_bytes)
            # a commit may carry EXISTING entries (status 0 — files
            # surviving a row-level delete unchanged) alongside ADDED ones;
            # count them and keep min_sequence_number honest so
            # incremental() stays correct
            added = [e for e in sp_entries if e["status"] == 1]
            existing = [e for e in sp_entries if e["status"] == 0]
            deleted = [e for e in sp_entries if e["status"] == 2]
            if mc:
                n_del += len(added)
                del_rows += sum(e["data_file"]["record_count"]
                                for e in added)
            else:
                n_added += len(added)
                added_rows += sum(e["data_file"]["record_count"]
                                  for e in added)
            # explicit per-entry sequence numbers exist only on EXISTING
            # (carried) entries; ADDED entries inherit the commit's — kept
            # as None here so a rebase retry can re-stamp the final seq
            min_explicit = min(
                [e["sequence_number"] for e in sp_entries
                 if e["sequence_number"] is not None], default=None)
            new_mfs.append({
                "manifest_path": manifest_path,
                "manifest_length": len(manifest_bytes),
                "partition_spec_id": sp,
                "content": mc,
                "sequence_number": None,            # stamped at publish
                "min_sequence_number": min_explicit,  # None → publish seq
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(added),
                "existing_files_count": len(existing),
                "deleted_files_count": len(deleted),
                "added_rows_count": sum(e["data_file"]["record_count"]
                                        for e in added),
                "existing_rows_count": sum(e["data_file"]["record_count"]
                                           for e in existing),
                "deleted_rows_count": sum(e["data_file"]["record_count"]
                                          for e in deleted),
            })
        if carry_previous is None:
            carry_previous = operation == "append"

        # Rebase safety: a pure append (every entry ADDED, data manifests
        # only, previous state carried wholesale) commutes with any
        # concurrent commit — the retry just replays it on the new head.
        # Anything that carried EXISTING entries, delete manifests, or a
        # caller-built manifest set encoded a decision about the snapshot
        # it SCANNED; replaying it on a different head could resurrect
        # deleted rows or drop a concurrent writer's files, so those
        # surface CommitConflictError instead.
        rebase_safe = (operation == "append" and carry_previous
                       and carry_manifests is None and not n_del
                       and all(mf["min_sequence_number"] is None
                               for mf in new_mfs))
        retries = 4
        try:
            retries = int(meta.get("properties", {}).get(
                "commit.retry.num-retries", retries))
        except (TypeError, ValueError):
            pass

        attempt = 0
        while True:
            try:
                return self._publish_snapshot(
                    meta, old_version, new_mfs, operation, snapshot_id,
                    seq, n_added, added_rows, n_del, del_rows,
                    summary_extra, properties_extra, carry_previous,
                    carry_manifests, branch)
            except CommitConflictError:
                if not rebase_safe or attempt >= retries:
                    raise
                attempt += 1
                time.sleep(min(0.05 * (2 ** attempt), 1.0))
                meta, old_version = self._load_meta_versioned()
                seq = meta["last-sequence-number"] + 1

    def _publish_snapshot(self, meta: dict, old_version: int,
                          new_mfs: list[dict], operation: str,
                          snapshot_id: int, seq: int,
                          n_added: int, added_rows: int,
                          n_del: int, del_rows: int,
                          summary_extra: dict[str, str] | None,
                          properties_extra: dict[str, str] | None,
                          carry_previous: bool,
                          carry_manifests: list[dict] | None,
                          branch: str) -> int:
        """One publish attempt: stamp the final sequence number into the
        new manifest-list records, write the manifest list against the
        target branch's CURRENT head, and CAS the metadata version. Raises
        :class:`CommitConflictError` on a lost race (the manifest list it
        wrote is deleted best-effort; data files and manifests are
        attempt-independent and carry into the retry)."""
        if branch == "main":
            base = meta["current-snapshot-id"]
        else:
            ref = meta.get("refs", {}).get(branch)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(
                    f"no branch named {branch!r} — create it with "
                    f".branch({branch!r}) before committing to it")
            base = ref["snapshot-id"]
        stamped = [{**mf, "sequence_number": seq,
                    "min_sequence_number":
                        seq if mf["min_sequence_number"] is None
                        else mf["min_sequence_number"]}
                   for mf in new_mfs]
        prev = []
        if carry_previous and base != -1:
            prev = self._manifest_list(meta, base)
        mlist = prev + list(carry_manifests or []) + stamped
        mlist_path = (f"{self._meta_dir}/snap-{snapshot_id}-1-"
                      f"{uuid.uuid4().hex}.avro")
        _write_bytes(self.spark, mlist_path, avro_io.write_container(
            MANIFEST_LIST_SCHEMA, mlist,
            metadata={"format-version": str(FORMAT_VERSION),
                      "snapshot-id": str(snapshot_id),
                      "sequence-number": str(seq),
                      "parent-snapshot-id": str(base)}))

        now = _now_ms()
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": mlist_path,
            "summary": {"operation": operation,
                        "added-data-files": str(n_added),
                        "added-records": str(added_rows),
                        **({"added-delete-files": str(n_del),
                            "added-delete-rows": str(del_rows)}
                           if n_del else {}),
                        **(summary_extra or {})},
            "schema-id": meta["current-schema-id"],
        }
        if base != -1:
            snap["parent-snapshot-id"] = base
        if properties_extra:
            meta.setdefault("properties", {}).update(
                {str(k): str(v) for k, v in properties_extra.items()})
        meta["snapshots"].append(snap)
        meta.setdefault("refs", {})[branch] = {"snapshot-id": snapshot_id,
                                               "type": "branch"}
        if branch == "main":
            # only the main branch moves the table's current pointer and
            # history log — a staging branch is invisible to readers until
            # fast_forward publishes it (write-audit-publish)
            meta["snapshot-log"].append({"timestamp-ms": now,
                                         "snapshot-id": snapshot_id})
            meta["current-snapshot-id"] = snapshot_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now
        try:
            self._commit_meta(meta, old_version)
        except CommitConflictError:
            # the in-memory meta dict is POISONED past this point (this
            # attempt's snapshot, refs, log and sequence advances are all
            # baked in) — callers must reload from disk, which the rebase
            # retry loop does; only the written manifest LIST is cleaned
            # up here (data files/manifests are reused by the retry)
            _fs_delete(self.spark, mlist_path, best_effort=True)
            raise
        return snapshot_id

    def _promote_files(self, tmp_dir: str, entries: list[dict]) -> None:
        """Move staged files into ``data/`` (keeping the partition subpath,
        prefixing a uuid so commits never collide) and point the manifest
        entries at the final paths."""
        fs, _, jvm = _jfs(self.spark, tmp_dir)
        # listings come back fully qualified (file:/..., hdfs://…) while
        # tmp_dir may be a bare path — strip the qualified prefix
        qtmp = fs.makeQualified(
            jvm.org.apache.hadoop.fs.Path(tmp_dir)).toString()
        for e in entries:
            # a UNIQUE prefix PER FILE (not per commit): partitionBy
            # reuses part-file basenames across partition dirs, and the
            # whole engine keys files by their last two path segments —
            # per-file prefixes keep that key unique even under nested
            # multi-field partition trees
            prefix = uuid.uuid4().hex[:8]
            src = e["data_file"]["file_path"]
            root = qtmp if src.startswith(qtmp) else tmp_dir
            rel = src[len(root):].lstrip("/")         # [part=val/]name.parquet
            rel_dir, _, base = rel.rpartition("/")
            dst_dir = (f"{self.location}/data/{rel_dir}" if rel_dir
                       else f"{self.location}/data")
            dst = f"{dst_dir}/{prefix}-{base}"
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(dst_dir))
            if not fs.rename(jvm.org.apache.hadoop.fs.Path(src),
                             jvm.org.apache.hadoop.fs.Path(dst)):
                raise RuntimeError(f"could not promote {src} -> {dst}")
            e["data_file"]["file_path"] = dst
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_dir), True)

    def _manifest_entries(self, files_dir: str, snapshot_id: int, seq: int,
                          pfs: "list[_PartField] | None",
                          schema: T.StructType) -> list[dict]:
        pfs = pfs or []
        # per-file row counts AND column bounds come from each file's
        # parquet footer, where the writer already recorded them (the
        # Iceberg spec's record_count / lower_bounds / upper_bounds) — no
        # Spark job re-reads what was just written. Bounds cover the
        # top-level atomic columns and feed the skip index. Decimals are
        # excluded: the index sidecar is plain JSON (Decimal does not
        # serialize) — a decimal filter still works, it just never prunes
        # on that column
        bound_cols = [f.name for f in schema.fields
                      if isinstance(f.dataType, (T.NumericType,
                                                 T.StringType))
                      and not isinstance(f.dataType, T.DecimalType)]
        # an empty listing (a routine no-new-data delta batch) commits an
        # empty snapshot
        files = sorted(_list_files(self.spark, files_dir, ".parquet"),
                       key=lambda x: x["path"])
        entries = []
        for fi, md in zip(files, _parquet_footers(self.spark, files_dir,
                                                  files)):
            bounds = _footer_bounds(md, bound_cols)
            partition: dict[str, Any] = {}
            for pf in pfs:
                # take the DEEPEST matching segment: the partition dirs
                # sit at the bottom of the path, and a same-named
                # '<col>=' segment higher up (e.g. inside the table
                # LOCATION itself) must not shadow the real value
                seg = next(s for s in reversed(fi["path"].split("/"))
                           if s.startswith(f"{pf.name}="))
                raw = _url_decode(seg.split("=", 1)[1])
                partition[pf.name] = (None
                                      if raw == "__HIVE_DEFAULT_PARTITION__"
                                      else pf.parse_raw(raw))
                # a partition column lives in the directory, not the file:
                # its bound is the directory value itself
                if partition[pf.name] is not None:
                    bounds[pf.name] = [partition[pf.name]] * 2
            entries.append({
                "status": 1,                       # ADDED
                "snapshot_id": snapshot_id,
                # spec 'Sequence Number Inheritance': ADDED entries write
                # null and inherit the manifest list's sequence number at
                # read time — which is what lets an optimistic-concurrency
                # rebase re-stamp a commit's final sequence WITHOUT
                # rewriting the manifest Avro (only the manifest list)
                "sequence_number": None,
                "file_sequence_number": None,
                # engine-side skip stats, NOT written into the (spec-shaped)
                # manifest Avro — popped before serialization
                "_bounds": {c: bounds[c] for c in bound_cols
                            if c in bounds},
                "data_file": {
                    "content": 0,                  # DATA
                    "file_path": fi["path"],
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": md.num_rows,
                    "file_size_in_bytes": int(fi["length"]),
                }})
        return entries

    # -------------------------------------------------------------- reads --

    def _manifest_entries_of(self, mf: dict) -> list[dict]:
        """Entries of one manifest with SEQUENCE-NUMBER INHERITANCE
        applied (spec: a null entry sequence number inherits the manifest
        list record's) — every consumer of entry sequence numbers reads
        through here so the inheritance rule has one home."""
        _, _, entries = avro_io.read_container(
            _read_bytes(self.spark, mf["manifest_path"]))
        inherited = mf.get("sequence_number")
        for e in entries:
            if e.get("sequence_number") is None:
                e["sequence_number"] = inherited
            if e.get("file_sequence_number") is None:
                e["file_sequence_number"] = inherited
        return entries

    def _snapshot_or_none(self, meta: dict,
                          snapshot_id: int | None) -> dict | None:
        """Like :meth:`_snapshot`, but an empty MAIN (no snapshots yet —
        normal while the first-ever batch is staged on a WAP branch)
        resolves to ``None`` instead of raising, so the metadata views
        can report an empty table instead of crashing the monitor. An
        EXPLICIT snapshot id that does not exist still raises."""
        if snapshot_id is None and meta["current-snapshot-id"] == -1:
            return None
        return self._snapshot(meta, snapshot_id)

    def _snapshot(self, meta: dict, snapshot_id: int | None) -> dict:
        if snapshot_id is None:
            snapshot_id = meta["current-snapshot-id"]
            if snapshot_id == -1:
                raise ValueError(f"table {self.location} has no snapshots")
        snap = next((s for s in meta["snapshots"]
                     if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} not found "
                             f"(have {[s['snapshot-id'] for s in meta['snapshots']]})")
        return snap

    def _manifest_list(self, meta: dict, snapshot_id: int) -> list[dict]:
        snap = self._snapshot(meta, snapshot_id)
        _, _, records = avro_io.read_container(
            _read_bytes(self.spark, snap["manifest-list"]))
        return records

    @staticmethod
    def _partition_match(entry: dict,
                         matchers: dict[str, Any] | None) -> bool:
        # ``matchers`` is the filter compiled under THIS entry's spec; an
        # empty dict means the spec never transformed the filtered column,
        # so the file cannot be pruned (it may contain matches)
        if not matchers:
            return True
        part = entry["data_file"]["partition"]
        return all(fn(part[name]) for name, fn in matchers.items())

    def _partition_matchers(self, meta: dict,
                            partition_filter: dict[str, Any] | None
                            ) -> dict[int, dict[str, Any]] | None:
        """Compile a SOURCE-column filter into partition-value matchers:
        scalar / list = equality set (values go through each spec's
        transform — this is hidden partitioning's contract), 2-tuple =
        inclusive range ``(lo, hi)`` with ``None`` open (order-preserving
        transforms only — a bucket hash destroys order). Returns matchers
        PER SPEC (``{spec-id: {field-name: fn}}``): after a partition
        evolution the same filter compiles differently under each spec —
        two specs may even share a field name with different transforms
        (``bucket[4]`` → ``bucket[8]``), so matchers can never be keyed
        by name alone. A spec with no field derived from the filtered
        column gets no matcher — its files are conservatively kept."""
        if not partition_filter:
            return None
        spec_pfs = {s["spec-id"]: [_PartField(meta, f) for f in s["fields"]]
                    for s in meta["partition-specs"]}
        all_sources = {pf.source_name for pfs in spec_pfs.values()
                       for pf in pfs}
        if not all_sources:
            raise ValueError("partition_filter on an unpartitioned table")
        matchers: dict[int, dict[str, Any]] = {sp: {} for sp in spec_pfs}
        for col, want in partition_filter.items():
            if col not in all_sources:
                raise ValueError(
                    f"partition_filter key {col!r}: this table partitions "
                    f"on source column(s) {sorted(all_sources)}")
            range_served = not isinstance(want, tuple)
            for sp, pfs in spec_pfs.items():
                for pf in pfs:
                    if pf.source_name != col:
                        continue
                    if isinstance(want, tuple):
                        if len(want) != 2:
                            raise ValueError("range partition_filter must "
                                             "be a (lo, hi) 2-tuple")
                        if not pf.monotonic:
                            # a bucket transform cannot serve a range
                            # (hashing destroys order) — but a RETIRED
                            # bucket spec must not veto the filter after
                            # a partition evolution: this spec simply
                            # gets no matcher (its files conservatively
                            # kept) and the error below fires only when
                            # NO spec can range-prune at all
                            continue
                        range_served = True
                        lo = (None if want[0] is None
                              else pf.pyvalue(want[0]))
                        hi = (None if want[1] is None
                              else pf.pyvalue(want[1]))
                        matchers[sp][pf.name] = (
                            lambda p, lo=lo, hi=hi: p is not None
                            and (lo is None or p >= lo)
                            and (hi is None or p <= hi))
                    else:
                        vals = (want if isinstance(want, (list, set))
                                else [want])
                        tv = {pf.pyvalue(v) for v in vals}
                        matchers[sp][pf.name] = lambda p, tv=tv: p in tv
            if not range_served:
                raise ValueError(
                    f"range partition_filter on {col!r} is not supported: "
                    "every spec partitioning it uses a bucket transform "
                    "(hashing destroys order) — pass explicit values "
                    "instead")
        return matchers

    def _live_entries(self, meta: dict, snapshot_id: int | None,
                      matchers: dict[int, dict[str, Any]] | None = None
                      ) -> list[tuple[dict, int, int]]:
        """[(manifest entry, added_snapshot_id, partition_spec_id)] for a
        snapshot's live (non-DELETED) data files; ``matchers`` are
        per-spec compiled partition predicates from
        :meth:`_partition_matchers` — each manifest prunes with the
        matchers of the spec that shaped it (a spec with no matcher for
        the filtered column keeps all its files: they may contain
        matches)."""
        snap = self._snapshot_or_none(meta, snapshot_id)
        if snap is None:
            return []
        out = []
        for mf in self._manifest_list(meta, snap["snapshot-id"]):
            if mf["content"] != 0:
                continue
            sp = mf["partition_spec_id"]
            spec_m = None if matchers is None else matchers.get(sp, {})
            entries = self._manifest_entries_of(mf)
            out += [(e, mf["added_snapshot_id"], sp) for e in entries
                    if e["status"] != 2            # not DELETED
                    and self._partition_match(e, spec_m)]
        return out

    def _live_delete_entries(self, meta: dict,
                             snapshot_id: int | None = None
                             ) -> list[tuple[dict, int, int]]:
        """[(manifest entry, added_snapshot_id, spec_id)] for a snapshot's
        live POSITION-DELETE files (``content=1`` manifests)."""
        snap = self._snapshot_or_none(meta, snapshot_id)
        if snap is None:
            return []
        out = []
        for mf in self._manifest_list(meta, snap["snapshot-id"]):
            if mf["content"] != 1:
                continue
            entries = self._manifest_entries_of(mf)
            out += [(e, mf["added_snapshot_id"], mf["partition_spec_id"])
                    for e in entries if e["status"] != 2]
        return out

    def _delete_manifest_records(self, meta: dict,
                                 snapshot_id: int | None = None
                                 ) -> list[dict]:
        """The manifest-list records of a snapshot's delete manifests
        (``content=1``) — carried verbatim through commits that rebuild
        the data-manifest list (COW rewrites, manifest compaction) so
        merge-on-read deletes survive them."""
        if meta["current-snapshot-id"] == -1:
            return []
        return [mf for mf
                in self._manifest_list(
                    meta, self._snapshot(meta, snapshot_id)["snapshot-id"])
                if mf["content"] == 1]

    def _data_files(self, meta: dict, snapshot_id: int | None,
                    matchers: dict[str, Any] | None = None
                    ) -> list[tuple[str, int, int]]:
        """[(file path, added_snapshot_id, spec_id)] for a snapshot's
        live files."""
        return [(e["data_file"]["file_path"], sid, sp) for e, sid, sp
                in self._live_entries(meta, snapshot_id, matchers)]

    def _stats_skip(self, pairs: list[tuple[str, int, int]],
                    stats_filter: dict[str, tuple] | None,
                    meta: dict | None = None) -> list[tuple[str, int]]:
        """Drop files whose skip-index [min, max] cannot intersect the
        requested range; files without recorded bounds are kept. Returns
        [(path, spec_id)]. ``meta`` (when given) maps filter keys through
        the column's historical names — bounds were recorded under the
        name the file was WRITTEN with, so after a rename the current name
        must also consult the old ones."""
        if not stats_filter:
            return [(p, sp) for p, _, sp in pairs]
        hist = (self._name_history(meta) if meta is not None else
                {c: [c] for c in stats_filter})
        idx: dict[str, dict] = {}
        for sid in {s for _, s, _ in pairs}:
            path = f"{self._meta_dir}/skipidx-{sid}.json"
            if _exists(self.spark, path):
                idx.update(json.loads(
                    _read_bytes(self.spark, path).decode()))
        keep = []
        for p, _, sp in pairs:
            bounds = idx.get(p) or {}
            ok = True
            for col, rng in stats_filter.items():
                lo, hi = rng
                rec = next((n for n in hist.get(col, [col])
                            if n in bounds), None)
                if rec is None:
                    continue
                fmin, fmax = bounds[rec]
                if fmin is None or fmax is None:
                    continue
                try:
                    if ((hi is not None and fmin > hi)
                            or (lo is not None and fmax < lo)):
                        ok = False
                        break
                except TypeError as exc:
                    raise ValueError(
                        f"stats_filter[{col!r}] bounds {rng!r} are not "
                        f"comparable with the column's recorded "
                        f"{type(fmin).__name__} bounds") from exc
            if ok:
                keep.append((p, sp))
        return keep

    def read(self, snapshot_id: int | None = None,
             partition_filter: dict[str, Any] | None = None,
             stats_filter: dict[str, tuple] | None = None,
             ref: str | None = None) -> DataFrame:
        """Snapshot-pinned scan — the immutable input of one validation
        run. Defaults to the current snapshot; ``ref`` reads a named tag
        (``read(ref="v1-training")``) — mutually exclusive with
        ``snapshot_id``.

        ``partition_filter`` prunes at the MANIFEST level, the real
        Iceberg mechanism: files of non-matching partitions are never
        handed to Spark's planner at all — at 10^12 rows that is the
        difference between planning thousands of files and planning one
        partition's worth. Keys are SOURCE columns; with a transform spec
        the values go through the transform (hidden partitioning):
        ``{col: value}`` / ``{col: [values]}`` match equality, and
        ``{col: (lo, hi)}`` (inclusive, ``None`` = open, datetime/date/ISO
        strings for time transforms) prunes a range on order-preserving
        transforms — e.g. a ``("ts", "day")`` table opens only the days a
        timestamp range touches.

        ``stats_filter`` (``{col: (lo, hi)}``, either bound ``None`` for
        open) additionally skips files whose recorded per-file column
        bounds cannot intersect the range — the engine-level analog of
        Iceberg's ``lower_bounds``/``upper_bounds`` file skipping (the
        bounds live in a sidecar skip index so the Avro manifests stay
        strictly spec-shaped). NOTE: a pruning hint only — matching files
        may still contain non-matching rows, so apply the real predicate
        with ``.where`` too (Catalyst then pushes it to parquet row
        groups)."""
        meta = self._load_meta()
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            snapshot_id = self._resolve_ref(meta, ref)
            if snapshot_id == -1:      # branch created on an empty table
                return self._read_files(meta, [])
        elif snapshot_id is None and meta["current-snapshot-id"] == -1:
            # an empty MAIN is a normal state once branches exist (the
            # first batches may be staging on an audit branch) — read as
            # an empty typed frame, matching an empty-branch read
            return self._read_files(meta, [])
        matchers = self._partition_matchers(meta, partition_filter)
        live = self._live_entries(meta, snapshot_id, matchers)
        pairs = [(e["data_file"]["file_path"], sid, sp)
                 for e, sid, sp in live]
        files = self._stats_skip(pairs, stats_filter, meta)
        # explicit time travel reads with the SNAPSHOT'S schema (Iceberg
        # semantics: a pre-evolution snapshot shows its own column set);
        # a current-state read always uses the CURRENT schema, even when
        # the last commit predates an evolution
        sid = (None if snapshot_id is None
               else self._snapshot(meta, snapshot_id).get("schema-id"))
        # merge-on-read: apply the snapshot's live position deletes (only
        # files a delete references pay the anti-join). Deletes referencing
        # files pruned away above are simply never consulted.
        dels = self._live_delete_entries(meta, snapshot_id)
        return self._read_files_mor(meta, files, sid, dels,
                                    self._seqs_of(live))

    def _name_history(self, meta: dict,
                      schema_id: int | None = None) -> dict[str, list[str]]:
        """{requested-schema column name: [every name the field has borne
        in schemas up to and including the requested one, current first]}.
        Files visible in a snapshot were all written under schemas no
        newer than the snapshot's, so later names cannot appear in them —
        bounding the history keeps a time-travel read exact."""
        sch = _schema_by_id(meta, schema_id)
        req_id = sch["schema-id"]
        older = sorted((s for s in meta["schemas"]
                        if s["schema-id"] <= req_id),
                       key=lambda s: -s["schema-id"])
        hist: dict[str, list[str]] = {}
        for f in sch["fields"]:
            names = [f["name"]]
            for s in older:
                for g in s["fields"]:
                    if g["id"] == f["id"] and g["name"] not in names:
                        names.append(g["name"])
            hist[f["name"]] = names
        return hist

    def _read_plan(self, meta: dict, schema_id: int | None = None
                   ) -> tuple[T.StructType, list[Column] | None]:
        """(request schema, post-read projection) honoring column RENAMES:
        with no rename in the field-id history this is exactly the
        declared schema and a ``None`` projection (the zero-cost fast
        path). After a rename, the request schema asks parquet for EVERY
        historical name of the field (each file physically carries one;
        the others resolve to null — and old narrow types up-cast to the
        current widened type natively) and the projection folds them with
        ``coalesce`` back into the current name. Collisions are impossible
        by construction: :meth:`rename_column` rejects any name ever used
        by a different field."""
        sch = _schema_by_id(meta, schema_id)
        spark_sch = _spark_schema(sch)
        hist = self._name_history(meta, schema_id)
        if all(len(v) == 1 for v in hist.values()):
            return spark_sch, None
        req_fields, seen = [], set()
        for f in spark_sch.fields:
            for n in hist[f.name]:
                if n not in seen:
                    seen.add(n)
                    req_fields.append(T.StructField(n, f.dataType, True))
        proj = [F.coalesce(*[F.col(n) for n in hist[f.name]])
                .alias(f.name) if len(hist[f.name]) > 1 else F.col(f.name)
                for f in spark_sch.fields]
        return T.StructType(req_fields), proj

    def _read_files(self, meta: dict, files: list[tuple[str, int]],
                    schema_id: int | None = None) -> DataFrame:
        # pin the reader to the DECLARED table schema: without it Spark
        # infers partition-directory values (source=123 would come back as
        # int, 2024-01-01 as date) and the result type could contradict
        # schema() — real Iceberg resolves partition values from metadata.
        # Name-based parquet resolution makes schema evolution free here:
        # files older than an add_column read as null, files carrying a
        # dropped column just skip it; renamed fields reconstruct via
        # _read_plan's coalesce over their historical names.
        schema, proj = self._read_plan(meta, schema_id)
        if not files:
            # typed empty DF from the DECLARED table schema (current
            # names, not the superset request schema) — all-nullable to
            # match what a real parquet scan returns, so empty and
            # non-empty snapshots union cleanly
            declared = _spark_schema(_schema_by_id(meta, schema_id))
            return self.spark.createDataFrame(
                [], T.StructType([T.StructField(f.name, f.dataType, True)
                                  for f in declared.fields]))
        # one scan per partition spec (files is [(path, spec_id)]): an
        # identity layout strips its partition column from the files and
        # needs basePath to re-derive it from the directory tree, while a
        # TRANSFORM spec keeps every source column physically in the files
        # (the derived directory value is metadata only, never projected).
        # After a partition evolution both kinds coexist — mixing them in
        # one reader would either lose the identity column or trip Spark's
        # conflicting-partition-discovery check.
        declared = _spark_schema(_schema_by_id(meta, schema_id))
        out = None
        for sp in sorted({s for _, s in files}):
            pfs = self._part_fields(meta, sp)
            reader = self.spark.read.schema(schema)
            if any(pf.identity for pf in pfs):
                reader = reader.option("basePath", f"{self.location}/data")
            df = reader.parquet(*[p for p, s in files if s == sp])
            # basePath discovery APPENDS every partition-directory column
            # (including transform dirs like ts_day=…, which are metadata
            # only) and reorders identity columns to the end — project
            # back to the declared schema
            df = (df.select(*proj) if proj is not None
                  else df.select(*[f.name for f in declared.fields]))
            out = df if out is None else out.unionByName(df)
        return out

    # -------------------------------------- merge-on-read delete support --

    @staticmethod
    def _path_key(col: Column) -> Column:
        """Decoded last-two-path-segment key of a ``_metadata.file_path``
        URI — matches :meth:`_fkey` of the manifests' plain canonical
        paths (unique: every commit prefixes a fresh uuid). ``+`` is
        protected before ``url_decode`` because SQL decode is
        form-urlencoded ('+' → space) while the URI encoder and Python's
        ``unquote`` both leave '+' alone — an unprotected decode would
        mis-key paths containing '+'."""
        dec = F.coalesce(
            F.try_url_decode(F.replace(col, F.lit("+"), F.lit("%2B"))),
            col)
        segs = F.split(dec, "/")
        return F.concat_ws("/", F.element_at(segs, -2),
                           F.element_at(segs, -1))

    @staticmethod
    def _path_key_plain(col: Column) -> Column:
        """Last-two-path-segment key of an ALREADY-PLAIN canonical path
        (no decode — a plain path containing literal '%' must not be
        reinterpreted)."""
        segs = F.split(col, "/")
        return F.concat_ws("/", F.element_at(segs, -2),
                           F.element_at(segs, -1))

    def _pos_scan(self, meta: dict, files: list[tuple[str, int]],
                  schema_id: int | None = None) -> DataFrame:
        """Like :meth:`_read_files` but keeps two extra columns per row:
        ``_rk`` (the file's :meth:`_path_key`) and ``_rpos`` (the row's
        position within its file via ``_metadata.row_index``) — the
        coordinates position deletes are expressed in. Both come from
        parquet scan metadata, so they survive shuffles (they are real
        columns, unlike ``input_file_name()``)."""
        schema, proj = self._read_plan(meta, schema_id)
        declared = _spark_schema(_schema_by_id(meta, schema_id))
        out = None
        for sp in sorted({s for _, s in files}):
            pfs = self._part_fields(meta, sp)
            reader = self.spark.read.schema(schema)
            if any(pf.identity for pf in pfs):
                reader = reader.option("basePath", f"{self.location}/data")
            df = (reader.parquet(*[p for p, s in files if s == sp])
                  .withColumn("_rk",
                              self._path_key(F.col("_metadata.file_path")))
                  .withColumn("_rpos", F.col("_metadata.row_index")))
            df = (df.select(*proj, F.col("_rk"), F.col("_rpos"))
                  if proj is not None else
                  df.select(*[f.name for f in declared.fields],
                            F.col("_rk"), F.col("_rpos")))
            out = df if out is None else out.unionByName(df)
        return out

    @staticmethod
    def _split_deletes(delete_entries: list) -> tuple[list, list]:
        """(position entries, equality entries) of a delete-entry list."""
        pos = [t for t in delete_entries
               if t[0]["data_file"]["content"] == 1]
        eq = [t for t in delete_entries
              if t[0]["data_file"]["content"] == 2]
        return pos, eq

    @staticmethod
    def _seqs_of(live: list) -> dict[str, int]:
        """{file key: data sequence number} of live data entries — the
        ordering equality deletes apply against (an equality delete at
        sequence S removes matching rows ONLY from files with sequence
        strictly below S; rows appended in the same commit survive)."""
        return {PyIcebergTable._fkey(e["data_file"]["file_path"]):
                int(e["sequence_number"] or 0) for e, _, _ in live}

    def _delete_pos_df(self, delete_entries: list) -> DataFrame:
        """(``_dk``, ``_dpos``) rows of every position in the given delete
        entries — the anti-join side of a merge-on-read scan."""
        paths = sorted({e["data_file"]["file_path"]
                        for e, _, _ in delete_entries})
        return (self.spark.read.schema(_DELETE_FILE_SCHEMA).parquet(*paths)
                .select(self._path_key_plain(F.col("file_path"))
                        .alias("_dk"),
                        F.col("pos").alias("_dpos")))

    def _anti_join_pos_deletes(self, scan: DataFrame,
                               pos_entries: list) -> DataFrame:
        """Remove MOR-deleted positions from a :meth:`_pos_scan` frame.
        The delete side broadcasts when its recorded row count is small
        (the common case — deletes are tiny relative to data); past the
        threshold it falls back to a shuffled join where AQE decides."""
        dd = self._delete_pos_df(pos_entries)
        total = sum(e["data_file"]["record_count"]
                    for e, _, _ in pos_entries)
        if total <= 2_000_000:
            dd = F.broadcast(dd)
        return scan.join(
            dd, (scan["_rk"] == dd["_dk"]) & (scan["_rpos"] == dd["_dpos"]),
            "left_anti")

    def _field_names(self, meta: dict, ids: list[int],
                     schema_id: int | None = None) -> list[str]:
        by_id = {f["id"]: f["name"]
                 for f in _schema_by_id(meta, schema_id)["fields"]}
        return [by_id[i] for i in ids]

    def _anti_join_eq_deletes(self, scan: DataFrame, eq_entries: list,
                              meta: dict,
                              file_seqs: dict[str, int],
                              schema_id: int | None = None) -> DataFrame:
        """Apply EQUALITY deletes to a :meth:`_pos_scan` frame: per
        equality-id group, anti-join on null-safe key equality AND the
        sequence rule (delete seq > the row's file seq). The key sets
        broadcast; the scan's file sequence arrives via a tiny
        (file key → seq) dim joined on ``_rk``."""
        seq_rows = [(k, s) for k, s in sorted(file_seqs.items())]
        sdf = self.spark.createDataFrame(seq_rows, "_sk string, _fseq long")
        scan = scan.join(F.broadcast(sdf), scan["_rk"] == sdf["_sk"],
                         "left").drop("_sk")
        groups: dict[tuple, dict[int, list[str]]] = {}
        for e, _sid, _sp in eq_entries:
            ids = tuple(e["data_file"].get("equality_ids") or ())
            seq = int(e["sequence_number"] or 0)
            groups.setdefault(ids, {}).setdefault(seq, []).append(
                e["data_file"]["file_path"])
        # resolve delete-key names/types through the SCHEMA OF THIS READ
        # (a time-travel scan carries its snapshot's column names — the
        # current schema could have renamed the key since, and the delete
        # parquet physically stores the at-delete-time name, which the
        # rename/drop guards pin to the snapshot's name while the delete
        # is live)
        schema = _spark_schema(_schema_by_id(meta, schema_id))
        for ids, by_seq in sorted(groups.items()):
            cols = self._field_names(meta, list(ids), schema_id)
            key_schema = T.StructType(
                [schema[c] for c in cols])
            kdf = None
            for seq, paths in sorted(by_seq.items()):
                part = (self.spark.read.schema(key_schema)
                        .parquet(*sorted(paths))
                        .withColumn("_dseq", F.lit(seq)))
                kdf = part if kdf is None else kdf.unionByName(part)
            # a file missing from the seq map is treated as OLDER than
            # every delete (conservative: deletes apply) — read paths
            # always supply complete maps, so this only guards misuse
            cond = F.col("_dseq") > F.coalesce(F.col("_fseq"), F.lit(-1))
            for c in cols:
                cond = cond & scan[c].eqNullSafe(kdf[c])
            scan = scan.join(F.broadcast(kdf), cond, "left_anti")
        return scan.drop("_fseq")

    def _apply_deletes(self, scan: DataFrame, delete_entries: list,
                       meta: dict,
                       file_seqs: dict[str, int],
                       schema_id: int | None = None) -> DataFrame:
        pos, eq = self._split_deletes(delete_entries)
        if pos:
            scan = self._anti_join_pos_deletes(scan, pos)
        if eq:
            scan = self._anti_join_eq_deletes(scan, eq, meta, file_seqs,
                                              schema_id)
        return scan

    def _read_files_mor(self, meta: dict, files: list[tuple[str, int]],
                        schema_id: int | None = None,
                        delete_entries: list | None = None,
                        file_seqs: dict[str, int] | None = None
                        ) -> DataFrame:
        """Read data files with merge-on-read deletes applied. Only files
        a delete can affect pay the position scan + anti-join — for
        position deletes that is the referenced files; for equality
        deletes, files whose sequence predates the newest delete. The
        clean majority streams through :meth:`_read_files` untouched — at
        a 10^12-row table with a 100-row takedown that is one dirty file,
        not a table-wide join."""
        if not files or not delete_entries:
            return self._read_files(meta, files, schema_id)
        pos, eq = self._split_deletes(delete_entries)
        refs: set[str] = set()
        if pos:
            refs = {r["_dk"] for r in self._delete_pos_df(pos)
                    .select("_dk").distinct().collect()}
        max_eq = (max(int(e["sequence_number"] or 0) for e, _, _ in eq)
                  if eq else None)
        seqs = file_seqs or {}

        def dirty_p(p: str) -> bool:
            k = self._fkey(p)
            if k in refs:
                return True
            if max_eq is None:
                return False
            # unknown sequence -> conservatively dirty
            return seqs.get(k, 0) < max_eq if k in seqs else True

        dirty = [(p, s) for p, s in files if dirty_p(p)]
        clean = [(p, s) for p, s in files if not dirty_p(p)]
        out = self._read_files(meta, clean, schema_id)
        if dirty:
            d = (self._apply_deletes(
                     self._pos_scan(meta, dirty, schema_id),
                     delete_entries, meta, seqs, schema_id)
                 .drop("_rk", "_rpos"))
            out = out.unionByName(d)
        return out

    def incremental(self, from_snapshot_id: int,
                    to_snapshot_id: int | None = None) -> DataFrame:
        """Rows in data files ADDED strictly after ``from_snapshot_id`` up
        to ``to_snapshot_id`` (default: current) — the changelog a delta
        validation consumes: a second run validates only appended data,
        never re-scanning files the lineage table already covers."""
        meta = self._load_meta()
        from_seq = self._snapshot(meta, from_snapshot_id)["sequence-number"]
        to_snap = self._snapshot(meta, to_snapshot_id)
        files = []
        for mf in self._manifest_list(meta, to_snap["snapshot-id"]):
            if mf["content"] != 0 or mf["sequence_number"] <= from_seq:
                continue
            entries = self._manifest_entries_of(mf)
            files += [(e["data_file"]["file_path"],
                       mf["partition_spec_id"]) for e in entries
                      if e["status"] == 1
                      and (e["sequence_number"] or 0) > from_seq]
        # explicit to-snapshot pins its schema; reading up to the current
        # state uses the current schema (same convention as read())
        sid = (None if to_snapshot_id is None
               else to_snap.get("schema-id"))
        return self._read_files(meta, files, sid)

    def changes(self, from_snapshot_id: int,
                to_snapshot_id: int | None = None) -> DataFrame:
        """NET row-level changes between two snapshots — the engine-side
        analog of Iceberg's ``create_changelog_view``: every row tagged
        ``_change_type`` ``insert`` / ``delete`` (an update appears as its
        delete+insert pair, the standard CDC encoding). Computed from the
        FILE-level diff of the two live sets, so only files that entered
        or left the table are ever read — never the table — and rows
        carried through copy-on-write rewrites cancel via ``EXCEPT ALL``
        (one hash shuffle over the changed rows only). A pure compaction
        therefore yields an EMPTY changelog: it moved bytes, it changed
        no data — exactly what a downstream incremental consumer wants to
        know. Unlike :meth:`incremental` (added files only, append-driven
        delta validation), this sees through deletes/merges/overwrites.
        Column types must be comparable for set ops (no map columns)."""
        meta = self._load_meta()
        live1 = self._live_entries(meta, from_snapshot_id)
        to_snap = self._snapshot(meta, to_snapshot_id)
        live2 = self._live_entries(meta, to_snap["snapshot-id"])
        f1 = {e["data_file"]["file_path"]: sp for e, _, sp in live1}
        f2 = {e["data_file"]["file_path"]: sp for e, _, sp in live2}
        seqs1, seqs2 = self._seqs_of(live1), self._seqs_of(live2)
        sid = (None if to_snapshot_id is None
               else to_snap.get("schema-id"))
        d1 = self._live_delete_entries(meta, from_snapshot_id)
        d2 = self._live_delete_entries(meta, to_snap["snapshot-id"])
        # merge-on-read widens the dirty set: a data file live on BOTH
        # sides still changed if a delete file affecting it entered or
        # left between the snapshots. For position deletes the refs come
        # from reading ONLY the differing delete files (tiny), never the
        # data; an equality delete is a predicate, so every file older
        # than the newest differing one is conservatively dirty (rows it
        # did not touch cancel via EXCEPT ALL).
        d1p = {e["data_file"]["file_path"] for e, _, _ in d1}
        d2p = {e["data_file"]["file_path"] for e, _, _ in d2}
        diff_dels = [t for t in d1 + d2
                     if t[0]["data_file"]["file_path"] in (d1p ^ d2p)]
        diff_pos, diff_eq = self._split_deletes(diff_dels)
        refs: set[str] = set()
        if diff_pos:
            refs = {r["_dk"] for r in self._delete_pos_df(diff_pos)
                    .select("_dk").distinct().collect()}
        max_eq = (max(int(e["sequence_number"] or 0)
                      for e, _, _ in diff_eq) if diff_eq else None)

        def dirty(p: str, other: dict, seqs: dict) -> bool:
            if p not in other or self._fkey(p) in refs:
                return True
            return (max_eq is not None
                    and seqs.get(self._fkey(p), 0) < max_eq)

        dirty1 = sorted((p, sp) for p, sp in f1.items()
                        if dirty(p, f2, seqs1))
        dirty2 = sorted((p, sp) for p, sp in f2.items()
                        if dirty(p, f1, seqs2))
        # each side's effective rows = its dirty files with ITS deletes
        # applied; rows carried unchanged (incl. rows MOR-deleted on both
        # sides) cancel via EXCEPT ALL
        state1 = self._read_files_mor(meta, dirty1, sid, d1, seqs1)
        state2 = self._read_files_mor(meta, dirty2, sid, d2, seqs2)
        return (state2.exceptAll(state1)
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(state1.exceptAll(state2)
                             .withColumn("_change_type", F.lit("delete"))))

    # ----------------------------------------------------------- metadata --

    def snapshots(self) -> DataFrame:
        """The ``<table>.snapshots`` metadata view: (committed_at,
        snapshot_id, parent_id, sequence_number, operation,
        manifest_list). ``sequence_number`` is the commit order — snapshot
        IDS are random, so "newest" comparisons must use the sequence."""
        meta = self._load_meta()
        rows = [(s["timestamp-ms"], s["snapshot-id"],
                 s.get("parent-snapshot-id"), s["sequence-number"],
                 s["summary"]["operation"],
                 s["manifest-list"]) for s in meta["snapshots"]]
        return self.spark.createDataFrame(
            rows, "committed_at long, snapshot_id long, parent_id long, "
                  "sequence_number long, operation string, "
                  "manifest_list string")

    def files(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.files`` metadata view: one row per live data file
        of a snapshot — (file_path, partition, record_count,
        file_size_in_bytes, added_snapshot_id)."""
        meta = self._load_meta()
        snap = self._snapshot_or_none(meta, snapshot_id)
        rows = []
        for mf in (self._manifest_list(meta, snap["snapshot-id"])
                   if snap is not None else []):
            if mf["content"] != 0:
                continue
            entries = self._manifest_entries_of(mf)
            for e in entries:
                if e["status"] == 2:
                    continue
                d = e["data_file"]
                rows.append((d["file_path"], json.dumps(d["partition"]),
                             d["record_count"], d["file_size_in_bytes"],
                             mf["added_snapshot_id"]))
        return self.spark.createDataFrame(
            rows, "file_path string, partition string, record_count long, "
                  "file_size_in_bytes long, added_snapshot_id long")

    def delete_files(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.delete_files`` metadata view: one row per live
        merge-on-read delete file of a snapshot (``content`` 1 =
        position, 2 = equality) — how much MOR debt the table carries (a
        growing count/row total says it is time to :meth:`compact`, which
        materializes the deletes). Empty when the table has no MOR
        deletes."""
        meta = self._load_meta()
        rows = [(e["data_file"]["file_path"],
                 e["data_file"]["content"],
                 e["data_file"]["record_count"],
                 e["data_file"]["file_size_in_bytes"], sid)
                for e, sid, _sp
                in self._live_delete_entries(meta, snapshot_id)]
        return self.spark.createDataFrame(
            rows, "file_path string, content int, record_count long, "
                  "file_size_in_bytes long, added_snapshot_id long")

    def partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.partitions`` metadata view: one row per
        (spec_id, partition value) of a snapshot's live files with file /
        record / byte counts — the operational lens for spotting skewed
        or fragmented partitions (a partition with 10^4 files wants
        :meth:`compact`; one with 100× the median records wants salting
        upstream). Computed from manifests only, zero data IO."""
        meta = self._load_meta()
        agg: dict[tuple[int, str], list[int]] = {}
        for e, _sid, sp in self._live_entries(meta, snapshot_id):
            d = e["data_file"]
            key = (sp, json.dumps(d["partition"], sort_keys=True,
                                  default=str))
            got = agg.setdefault(key, [0, 0, 0])
            got[0] += 1
            got[1] += d["record_count"]
            got[2] += d["file_size_in_bytes"]
        rows = [(sp, part, *vals)
                for (sp, part), vals in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows, "spec_id int, partition string, file_count long, "
                  "record_count long, total_size_bytes long")

    def history(self) -> DataFrame:
        """The ``<table>.history`` metadata view: the table's
        made-current log — (made_current_at, snapshot_id, parent_id,
        is_current_ancestor). One row per time a snapshot BECAME the
        table head (appends, but also rollbacks and fast-forwards, so a
        snapshot can appear more than once); ``is_current_ancestor``
        false marks overwritten lines of history — the commits a
        :meth:`rollback_to` abandoned. This is the audit trail of WHAT
        readers saw WHEN, where :meth:`snapshots` is the unordered set of
        states that exist."""
        meta = self._load_meta()
        cur = meta["current-snapshot-id"]
        anc = ({s["snapshot-id"] for s in self._ancestors(meta, cur)}
               if cur != -1 else set())
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        rows = [(log["timestamp-ms"], log["snapshot-id"],
                 by_id.get(log["snapshot-id"], {}).get("parent-snapshot-id"),
                 log["snapshot-id"] in anc)
                for log in meta.get("snapshot-log", [])]
        return self.spark.createDataFrame(
            rows, "made_current_at long, snapshot_id long, parent_id long, "
                  "is_current_ancestor boolean")

    def refs(self) -> DataFrame:
        """The ``<table>.refs`` metadata view: every named ref —
        (name, type, snapshot_id). ``main`` is always present; tags pin
        released datasets, branches carry staged write-audit-publish
        batches. A branch ref sitting far behind ``main``'s sequence is a
        stale audit branch wanting :meth:`drop_branch`."""
        meta = self._load_meta()
        rows = [(name, r["type"], r["snapshot-id"])
                for name, r in sorted(meta.get("refs", {}).items())]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long")

    def manifests(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.manifests`` metadata view: one row per manifest
        of a snapshot, straight from its manifest list — path, length,
        spec, content (0=data, 1=deletes), sequence numbers and
        added/existing/deleted file+row counts. The fragmentation lens:
        many small manifests with low added counts say
        :meth:`rewrite_manifests`; live ``content=1`` rows say MOR debt."""
        meta = self._load_meta()
        snap = self._snapshot_or_none(meta, snapshot_id)
        rows = [] if snap is None else [
                (mf["manifest_path"], mf["manifest_length"],
                 mf["partition_spec_id"], mf["content"],
                 mf["sequence_number"], mf["min_sequence_number"],
                 mf["added_snapshot_id"], mf["added_files_count"],
                 mf["existing_files_count"], mf["deleted_files_count"],
                 mf["added_rows_count"], mf["existing_rows_count"],
                 mf["deleted_rows_count"])
                for mf in self._manifest_list(meta, snap["snapshot-id"])]
        return self.spark.createDataFrame(
            rows, "path string, length long, partition_spec_id int, "
                  "content int, sequence_number long, "
                  "min_sequence_number long, added_snapshot_id long, "
                  "added_files_count int, existing_files_count int, "
                  "deleted_files_count int, added_rows_count long, "
                  "existing_rows_count long, deleted_rows_count long")

    def entries(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.entries`` metadata view: one row per manifest
        ENTRY of a snapshot — including status 2 (DELETED) rows that
        :meth:`files` hides — with the manifest's content kind and the
        entry's own sequence numbers. The forensic view: which commit
        added/removed which file, and which sequence number orders it
        against merge-on-read deletes."""
        meta = self._load_meta()
        snap = self._snapshot_or_none(meta, snapshot_id)
        rows = []
        for mf in (self._manifest_list(meta, snap["snapshot-id"])
                   if snap is not None else []):
            for e in self._manifest_entries_of(mf):
                d = e["data_file"]
                rows.append((e["status"], e.get("snapshot_id"),
                             e.get("sequence_number"),
                             e.get("file_sequence_number"),
                             mf["content"], d["file_path"],
                             d["file_format"],
                             json.dumps(d["partition"], sort_keys=True,
                                        default=str),
                             d["record_count"], d["file_size_in_bytes"]))
        return self.spark.createDataFrame(
            rows, "status int, snapshot_id long, sequence_number long, "
                  "file_sequence_number long, manifest_content int, "
                  "file_path string, file_format string, partition string, "
                  "record_count long, file_size_in_bytes long")

    def current_snapshot_id(self) -> int:
        sid = self._load_meta()["current-snapshot-id"]
        if sid == -1:
            raise ValueError(f"table {self.location} has no snapshots")
        return sid

    def schema(self) -> T.StructType:
        return _spark_schema(_schema_by_id(self._load_meta()))

    def schema_diff(self, from_snapshot: int,
                    to_snapshot: int | None = None) -> DataFrame:
        """METADATA-ONLY schema comparison between two snapshots — the
        schema half of snapshot reconciliation (``diff_tables`` covers
        the data half). Fields pair by FIELD-ID (Iceberg's stable
        identity), so a rename reports as ``renamed`` — not as an
        unrelated drop+add the way a by-name diff would — and a widened
        type as ``retyped`` with both types. Returns one row per change:
        ``(change, field_id, from_name, to_name, from_type, to_type)``
        with ``change ∈ {added, dropped, renamed, retyped}`` (a renamed
        AND retyped field emits both rows). Zero data IO: two metadata
        JSON reads."""
        meta = self._load_meta()
        old = _schema_by_id(meta, self._snapshot(
            meta, from_snapshot).get("schema-id"))
        new_sid = (None if to_snapshot is None
                   else self._snapshot(meta, to_snapshot).get("schema-id"))
        new = _schema_by_id(meta, new_sid)
        by_id_old = {f["id"]: f for f in old["fields"]}
        by_id_new = {f["id"]: f for f in new["fields"]}
        rows = []
        for fid in sorted(set(by_id_old) | set(by_id_new)):
            o, n = by_id_old.get(fid), by_id_new.get(fid)
            if o is None:
                rows.append(("added", fid, None, n["name"],
                             None, json.dumps(n["type"])))
            elif n is None:
                rows.append(("dropped", fid, o["name"], None,
                             json.dumps(o["type"]), None))
            else:
                if o["name"] != n["name"]:
                    rows.append(("renamed", fid, o["name"], n["name"],
                                 json.dumps(o["type"]),
                                 json.dumps(n["type"])))
                if o["type"] != n["type"]:
                    rows.append(("retyped", fid, o["name"], n["name"],
                                 json.dumps(o["type"]),
                                 json.dumps(n["type"])))
        return self.spark.createDataFrame(
            rows, "change string, field_id int, from_name string, "
                  "to_name string, from_type string, to_type string")


# -------------------------------------------------- MERGE-style lineage ----

class PyIcebergLineageStore:
    """Iceberg-backed lineage with MERGE-semantics upsert — the EXECUTED
    analog of ``iceberg.IcebergLineageStore`` (same duck-typed contract as
    ``lineage.LineageStore``: read / completed_partitions / append /
    metrics), runnable without the Iceberg runtime jar.

    ``append`` is an upsert keyed ``(run_id, partition_key, rule_id)``
    via :meth:`PyIcebergTable.merge_rows` — copy-on-write MERGE that
    rewrites ONLY the files containing matched keys and carries the rest,
    so a batch of marker upserts costs O(matched files + batch), never
    O(lineage table). Re-running an interrupted batch *updates* its
    marker rows instead of duplicating them, and every lineage state
    remains time-travelable by snapshot id."""

    def __init__(self, location: str):
        self.location = location

    def _table(self, spark: SparkSession) -> PyIcebergTable:
        if not PyIcebergTable.exists(spark, self.location):
            from ..lineage import LINEAGE_SCHEMA
            schema = spark.createDataFrame([], LINEAGE_SCHEMA).schema
            PyIcebergTable.create(spark, self.location, schema)
        return PyIcebergTable(spark, self.location)

    def read(self, spark: SparkSession) -> DataFrame:
        t = self._table(spark)
        try:
            return t.read()
        except ValueError:                  # created but no snapshot yet
            from ..lineage import LINEAGE_SCHEMA
            return spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_partitions(self, spark: SparkSession, run_id: str
                             ) -> set[str]:
        rows = (self.read(spark).where(F.col("run_id") == run_id)
                .select("partition_key").distinct().collect())
        return {r["partition_key"] for r in rows}

    def append(self, spark: SparkSession, records: list[tuple]) -> None:
        from ..lineage import LINEAGE_SCHEMA
        src = spark.createDataFrame(records, LINEAGE_SCHEMA)
        t = self._table(spark)
        try:
            t.current_snapshot_id()
        except ValueError:                  # first batch: plain append
            t.append(src)
            return
        t.merge_rows(src, key=["run_id", "partition_key", "rule_id"],
                     null_safe=True)

    def metrics(self, spark: SparkSession, run_id: str) -> DataFrame:
        return self.read(spark).where(F.col("run_id") == run_id)


# ----------------------------------------------- Iceberg → Spark schema ----

_TO_SPARK = {"string": T.StringType(), "long": T.LongType(),
             "int": T.IntegerType(), "double": T.DoubleType(),
             "float": T.FloatType(), "boolean": T.BooleanType(),
             "binary": T.BinaryType(), "date": T.DateType(),
             "timestamptz": T.TimestampType()}


def _spark_type(t: Any) -> T.DataType:
    if isinstance(t, str):
        if t in _TO_SPARK:
            return _TO_SPARK[t]
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1:t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        raise ValueError(f"unsupported Iceberg type {t!r}")
    if t["type"] == "list":
        return T.ArrayType(_spark_type(t["element"]),
                           not t.get("element-required", False))
    if t["type"] == "map":
        return T.MapType(_spark_type(t["key"]), _spark_type(t["value"]),
                         not t.get("value-required", False))
    if t["type"] == "struct":
        return T.StructType([
            T.StructField(f["name"], _spark_type(f["type"]),
                          not f["required"]) for f in t["fields"]])
    raise ValueError(f"unsupported Iceberg type {t!r}")


def _spark_schema(ice_schema: dict) -> T.StructType:
    return T.StructType([
        T.StructField(f["name"], _spark_type(f["type"]), not f["required"])
        for f in ice_schema["fields"]])


def _spark_order(v: Any) -> tuple:
    # Spark orders NaN above every other double (parquet-mr's footer
    # statistics agree: a chunk holding NaN records max NaN)
    return (v != v, v)


def _parquet_footers(spark: SparkSession, root: str, files: list[dict]):
    """Yield each listed parquet file's footer metadata (pyarrow
    ``FileMetaData``): two small reads per file through the Hadoop
    FileSystem (any scheme Spark reaches) — the 8-byte tail, then the
    footer it points at — and no scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    fs, _, jvm = _jfs(spark, root)
    # resolve the JVM classes once: every py4j attribute hop is a call
    path_of = jvm.org.apache.hadoop.fs.Path
    read = jvm.org.apache.commons.io.IOUtils.toByteArray
    for fi in files:
        stream = fs.open(path_of(fi["path"]))
        try:
            # tail = <footer length: int32 LE> b"PAR1"
            stream.seek(fi["length"] - 8)
            tail = bytes(read(stream, 8))
            n = struct.unpack("<i", tail[:4])[0]
            stream.seek(fi["length"] - 8 - n)
            footer = bytes(read(stream, n))
        finally:
            stream.close()
        yield pq.read_metadata(pa.BufferReader(b"PAR1" + footer + tail))


def _orders_nan(created_by: str | None) -> bool:
    """Whether a writer folds NaN into float min/max the way Spark orders
    it. parquet-mr does (checked against 1.16; releases before 1.12 are
    not relied on). parquet-cpp / Arrow leaves NaN out, so another
    writer's max is no upper bound for a chunk that may hold NaN."""
    m = re.match(r"parquet-mr version (\d+)\.(\d+)", created_by or "")
    return bool(m) and (int(m[1]), int(m[2])) >= (1, 12)


def _footer_bounds(md, cols: list[str]) -> dict[str, list]:
    """{column: [min, max]} over a file's row groups. An all-NULL chunk
    contributes nothing; a chunk with values but no min/max (parquet-mr
    omits them past 4 KB) leaves its column with no bound — a file
    without a bound is never skipped, so that only costs pruning. A
    float chunk from a writer that leaves NaN out of its max gets max
    NaN, as Spark would compute it if the chunk holds one."""
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    unbounded: set[str] = set()
    nan_blind = not _orders_nan(md.created_by)
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for j in range(rg.num_columns):
            ch = rg.column(j)
            c, st = ch.path_in_schema, ch.statistics
            if c not in cols:
                continue
            if st is not None and st.has_min_max:
                lo[c] = min(lo.get(c, st.min), st.min, key=_spark_order)
                hi[c] = max(hi.get(c, st.max), st.max, key=_spark_order)
                if nan_blind and ch.physical_type in ("FLOAT", "DOUBLE"):
                    hi[c] = float("nan")
            elif st is None or st.null_count != ch.num_values:
                unbounded.add(c)
    return {c: [lo[c], hi[c]] for c in lo if c not in unbounded}


def _url_decode(s: str) -> str:
    from urllib.parse import unquote
    return unquote(s)


def _now_ms() -> int:
    return int(time.time() * 1000)
