"""Apache Iceberg table-format reader/writer, dependency-free.

The container ships no Iceberg jars (tests/test_iceberg_smoke.py skips
honestly), so this module reads and writes the actual Iceberg v2 table
layout per the public spec (https://iceberg.apache.org/spec/) —

    <table>/metadata/vN.metadata.json      table metadata + snapshot log
    <table>/metadata/version-hint.text     hadoop-catalog current pointer
    <table>/metadata/snap-*.avro           manifest list   (Avro)
    <table>/metadata/*-m*.avro             manifest files  (Avro)
    <table>/data/**.parquet                data files

on top of the generic Avro codec in sources/avro_lite.py. Because the Avro
reader is schema-driven from each file's own header and the field lookups
below accept both the spec names and the Java implementation's aliases
(e.g. ``added_files_count`` vs ``added_data_files_count``), tables written
by the real Iceberg library read correctly — no jars needed for the scan
side. Writes produce spec-conformant v2 metadata that a real Iceberg
runtime can open: the data files carry no Parquet field ids, so the table
property ``schema.name-mapping.default`` maps each column name (and a list
column's ``element``) to its field id.

It is the one snapshot-table format of the engine: the incremental watch
path (streaming/watch.py, north rule: resumable from Iceberg-snapshot
checkpoints) reads its source with ``read_incremental`` and keeps its
``signatures`` state as a table of this module (``read_table`` /
``append_snapshot`` / ``snapshot_summaries``).

Honest gates: position/equality DELETE manifests (v2 row-level deletes)
raise NotImplementedError — the dedup source contract is append-only;
incremental reads verify it. Column types are flat primitives plus lists
of primitives; maps, structs and nested lists raise NotImplementedError.
Deterministic output: snapshot ids are dense integers and timestamps
derive from them (no wall clock in fixtures — SURVEY §7.3 determinism
rule).
"""

from __future__ import annotations

import itertools
import json
import re
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from file_deduplicator_spark.sources.avro_lite import read_container, write_container

# ---------------------------------------------------------------------------
# reading (generic over real-Iceberg and iceberg_lite written tables)
# ---------------------------------------------------------------------------


def _metadata_dir(table_dir: str | Path) -> Path:
    return Path(table_dir) / "metadata"


def is_iceberg_table(table_dir: str | Path) -> bool:
    md = _metadata_dir(table_dir)
    return md.is_dir() and any(md.glob("*.metadata.json"))


def table_metadata(table_dir: str | Path) -> dict:
    """Latest table metadata: version-hint.text if present (hadoop catalog),
    else the highest-versioned ``v*.metadata.json`` / ``*.metadata.json``."""
    md = _metadata_dir(table_dir)
    hint = md / "version-hint.text"
    if hint.exists():
        v = hint.read_text().strip()
        p = md / f"v{v}.metadata.json"
        if p.exists():
            return json.loads(p.read_text())
    candidates = sorted(
        md.glob("*.metadata.json"),
        key=lambda p: int(re.match(r"v?(\d+)", p.name).group(1) or 0)
        if re.match(r"v?(\d+)", p.name)
        else -1,
    )
    if not candidates:
        raise FileNotFoundError(f"no Iceberg metadata under {md}")
    return json.loads(candidates[-1].read_text())


def _resolve(path: str, meta: dict, table_dir: str | Path) -> Path:
    """Map a path recorded in metadata onto the local table directory.

    Iceberg records absolute URIs against the table's original location; a
    relocated/copied table (the normal case for fixtures and object-store
    restores) must remap that prefix onto where the table actually lives."""
    p = path.removeprefix("file:")
    loc = (meta.get("location") or "").removeprefix("file:")
    if loc and p.startswith(loc):
        return Path(table_dir) / p[len(loc) :].lstrip("/")
    return Path(p)


def _get(rec: dict, *names, default=None):
    """Field lookup tolerant of spec-vs-Java naming (e.g. the v1→v2 rename
    of added_data_files_count → added_files_count kept the old Avro name in
    the Java writer)."""
    for n in names:
        if n in rec and rec[n] is not None:
            return rec[n]
    return default


def snapshots(meta: dict) -> list[dict]:
    """Snapshot log in commit order (sequence-number, then list order)."""
    snaps = list(meta.get("snapshots") or [])
    snaps.sort(key=lambda s: (s.get("sequence-number", 0),))
    return snaps


def _snapshot_by_id(meta: dict, snapshot_id: int) -> dict:
    for s in snapshots(meta):
        if s["snapshot-id"] == snapshot_id:
            return s
    raise KeyError(f"snapshot {snapshot_id} not in table metadata")


def data_files(
    table_dir: str | Path, snapshot_id: int | None = None, meta: dict | None = None
) -> list[dict]:
    """Live data files at a snapshot: read its manifest list, then each data
    manifest, keeping entries with status ADDED(1)/EXISTING(0) — DELETED(2)
    rows are dropped per spec. Returns dicts with resolved local paths."""
    meta = meta or table_metadata(table_dir)
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return []
    snap = _snapshot_by_id(meta, snapshot_id)
    _, _, mlist = read_container(_resolve(snap["manifest-list"], meta, table_dir))
    out: list[dict] = []
    for mf in mlist:
        if _get(mf, "content", default=0) == 1:
            raise NotImplementedError(
                "Iceberg delete manifests (v2 row-level deletes) are not "
                "supported — the dedup source contract is append-only"
            )
        mpath = _resolve(mf["manifest_path"], meta, table_dir)
        _, _, entries = read_container(mpath)
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df = e["data_file"]
            out.append(
                {
                    "file_path": str(_resolve(df["file_path"], meta, table_dir)),
                    "file_format": str(df.get("file_format", "PARQUET")).upper(),
                    "record_count": df.get("record_count"),
                    "status": e["status"],
                    # v2 inheritance: a null snapshot_id inherits the
                    # manifest's added_snapshot_id (spec: manifest entry
                    # field inheritance)
                    "snapshot_id": _get(e, "snapshot_id", default=mf.get("added_snapshot_id")),
                }
            )
    return out


def read_table(spark: SparkSession, table_dir: str | Path) -> DataFrame:
    """Full scan of the current snapshot."""
    files = data_files(table_dir)
    paths = [f["file_path"] for f in files]
    if not paths:
        raise FileNotFoundError(f"empty Iceberg table at {table_dir}")
    bad = [f for f in files if f["file_format"] != "PARQUET"]
    if bad:
        raise NotImplementedError(f"non-parquet data files: {bad[:3]}")
    return spark.read.parquet(*paths)


def read_incremental(
    spark: SparkSession, table_dir: str | Path, after_snapshot: int | None
) -> tuple[DataFrame | None, int | None]:
    """Rows added strictly after ``after_snapshot`` (None = from the start)
    and the latest snapshot id — Iceberg ``start-snapshot-id`` semantics.
    Returns (None, latest) when nothing is new.

    Computed as the file-set difference between the two snapshots (exactly
    the files added, for the append-only tables the dedup source contract
    requires); a file DELETED between the snapshots would signal a rewrite
    and raises rather than silently double-counting."""
    meta = table_metadata(table_dir)
    latest = meta.get("current-snapshot-id")
    if latest in (None, -1):
        return None, after_snapshot
    new_files = {f["file_path"] for f in data_files(table_dir, latest, meta)}
    if after_snapshot is not None:
        old_files = {f["file_path"] for f in data_files(table_dir, after_snapshot, meta)}
        dropped = old_files - new_files
        if dropped:
            raise NotImplementedError(
                f"files removed between snapshots {after_snapshot}→{latest} "
                f"(table is not append-only): {sorted(dropped)[:3]}"
            )
        new_files -= old_files
    if not new_files:
        return None, latest
    return spark.read.parquet(*sorted(new_files)), latest


# ---------------------------------------------------------------------------
# writing (spec-conformant v2 metadata; deterministic for fixtures)
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "string": "string",
    "long": "long",
    "integer": "int",
    "int": "int",
    "short": "int",
    "binary": "binary",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "date": "date",
    # Spark's session-zone timestamp is an instant (Iceberg timestamptz);
    # its timestamp_ntz is a wall-clock value (Iceberg timestamp)
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _iceberg_type(t, ids) -> str | dict:
    """Iceberg type of Spark type ``t``: a mapped primitive, or a list of
    one (its element takes the next id from the iterator ``ids``)."""
    name = t.typeName()
    if name in _SPARK_TO_ICEBERG:
        return _SPARK_TO_ICEBERG[name]
    if name == "array" and t.elementType.typeName() in _SPARK_TO_ICEBERG:
        return {
            "type": "list",
            "element-id": next(ids),
            "element": _SPARK_TO_ICEBERG[t.elementType.typeName()],
            "element-required": not t.containsNull,
        }
    raise NotImplementedError(f"iceberg_lite: unmapped Spark type {name!r}")


def _iceberg_schema(df: DataFrame) -> tuple[dict, int]:
    """(schema, last column id): top-level columns take ids 1..n, list
    elements the ids after them."""
    ids = itertools.count(len(df.schema.fields) + 1)
    fields = [
        {
            "id": i,
            "name": f.name,
            "required": not f.nullable,
            "type": _iceberg_type(f.dataType, ids),
        }
        for i, f in enumerate(df.schema.fields, start=1)
    ]
    return {"type": "struct", "schema-id": 0, "fields": fields}, next(ids) - 1


def _name_mapping(schema: dict) -> list[dict]:
    """Spec ``schema.name-mapping.default``: resolves the columns of data
    files written without Parquet field ids (Spark's writer sets none);
    Spark names a list's element ``element``."""
    out = []
    for f in schema["fields"]:
        m = {"field-id": f["id"], "names": [f["name"]]}
        if isinstance(f["type"], dict):  # a list column
            m["fields"] = [{"field-id": f["type"]["element-id"], "names": ["element"]}]
        out.append(m)
    return out


# Avro schemas for v2 manifest list / manifest file, field-ids per spec
# (manifest-list: 500-517; manifest entry: 0-4; data_file: 100-134).
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
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
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        # unpartitioned spec → empty struct (spec: partition
                        # data tuple has one field per spec field)
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                ],
            },
        },
    ],
}


def _write_metadata(table_dir: Path, meta: dict, version: int) -> None:
    md = _metadata_dir(table_dir)
    md.mkdir(parents=True, exist_ok=True)
    p = md / f"v{version}.metadata.json"
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(meta, indent=1))
    tmp.rename(p)  # atomic: a reader never sees a half-written version
    hint = md / "version-hint.text"
    tmp = hint.with_suffix(".tmp")
    tmp.write_text(str(version))
    tmp.rename(hint)


def append_snapshot(df: DataFrame, table_dir: str | Path, **summary) -> int:
    """Commit ``df`` as a new Iceberg v2 snapshot; returns the snapshot id.

    Parquet data files under a snapshot-scoped directory, one new manifest,
    a manifest list carrying all live manifests, a new metadata version,
    version-hint flip.
    Extra ``summary`` keys land in the snapshot summary (stringified, e.g.
    ``source_snapshot=...`` for idempotent crash replay — watch.py reads it
    back via snapshot_summaries)."""
    table_dir = Path(table_dir)
    md = _metadata_dir(table_dir)
    md.mkdir(parents=True, exist_ok=True)
    if not is_iceberg_table(table_dir):
        schema, last_id = _iceberg_schema(df)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, str(table_dir))),
            "location": str(table_dir),
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": last_id,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "schema.name-mapping.default": json.dumps(_name_mapping(schema)),
            },
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        version = 0
    else:
        meta = table_metadata(table_dir)
        version = int((md / "version-hint.text").read_text().strip())

    prev = snapshots(meta)
    snap_id = (prev[-1]["snapshot-id"] + 1) if prev else 0
    seq = meta["last-sequence-number"] + 1

    out = table_dir / "data" / f"snap-{snap_id:06d}"
    # no metadata references snap_id yet: a dir already here is the orphan of
    # an append that died before its metadata flip, safe to overwrite
    df.write.mode("overwrite").parquet(str(out))
    files = sorted(out.glob("*.parquet"))
    import pyarrow.parquet as pq

    entries, added_rows = [], 0
    for f in files:
        n = pq.ParquetFile(f).metadata.num_rows
        added_rows += n
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherited from the manifest (v2)
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": str(f),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n,
                    "file_size_in_bytes": f.stat().st_size,
                },
            }
        )

    manifest_path = md / f"snap{snap_id:06d}-m0.avro"
    write_container(
        manifest_path,
        _MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": json.dumps(meta["schemas"][0]),
            "schema-id": "0",
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # manifest list = previous snapshot's manifests + the new one (append-only)
    prev_manifests: list[dict] = []
    if prev:
        _, _, prev_manifests = read_container(
            _resolve(prev[-1]["manifest-list"], meta, table_dir)
        )
    new_manifest = {
        "manifest_path": str(manifest_path),
        "manifest_length": manifest_path.stat().st_size,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    mlist_path = md / f"snap-{snap_id}-1-{uuid.uuid5(uuid.NAMESPACE_URL, f'{table_dir}:{snap_id}')}.avro"
    keep = ["manifest_path", "manifest_length", "partition_spec_id", "content",
            "sequence_number", "min_sequence_number", "added_snapshot_id",
            "added_files_count", "existing_files_count", "deleted_files_count",
            "added_rows_count", "existing_rows_count", "deleted_rows_count"]
    # try the spec name FIRST, then the Java writer's alias: a manifest
    # list written by this module uses spec names, so an alias-only lookup
    # would zero the carried-forward counts on every re-append
    aliases = {"added_files_count": "added_data_files_count",
               "existing_files_count": "existing_data_files_count",
               "deleted_files_count": "deleted_data_files_count"}
    norm_prev = [
        {k: _get(m, k, aliases.get(k, k), default=0) for k in keep}
        for m in prev_manifests
    ]
    write_container(mlist_path, _MANIFEST_LIST_SCHEMA, norm_prev + [new_manifest],
                    metadata={"format-version": "2"})

    snap = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        # deterministic (derived from the id): no wall clock in fixtures
        "timestamp-ms": 1_600_000_000_000 + snap_id,
        "manifest-list": str(mlist_path),
        "summary": {"operation": "append",
                    **{k: str(v) for k, v in summary.items()}},
        "schema-id": 0,
    }
    if prev:
        snap["parent-snapshot-id"] = prev[-1]["snapshot-id"]
    meta["snapshots"] = prev + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = snap["timestamp-ms"]
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": snap["timestamp-ms"]}
    ]
    _write_metadata(table_dir, meta, version + 1)
    return snap_id


def snapshot_summaries(table_dir: str | Path) -> list[dict]:
    """(snapshot-id, summary) pairs in commit order; summary values are
    strings. watch.py probes them for an already-ingested source snapshot."""
    meta = table_metadata(table_dir)
    return [
        {"snapshot_id": s["snapshot-id"], **(s.get("summary") or {})}
        for s in snapshots(meta)
    ]
