"""sources/avro_lite + sources/iceberg_lite: the dependency-free reader/writer
of the REAL Iceberg v2 on-disk format (round-3 verdict "What's missing" #3 —
no jars in the container, so the format itself is implemented from the public
spec; tests/test_iceberg_smoke.py still covers the real-jars path when one
exists).

Strategy: (a) generic Avro codec pinned by roundtrips over every type the
spec defines, plus reader-only forms our writer never emits (negative-count
blocks, Java's alias field names) synthesized by hand; (b) Iceberg table
roundtrips through Spark including incremental reads, table relocation, the
append-only guard, and the watch path running unchanged over an Iceberg
source table."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import types as T

from file_deduplicator_spark.sources import avro_lite, iceberg_lite

# ---------------------------------------------------------------------------
# avro_lite
# ---------------------------------------------------------------------------

_FULL_SCHEMA = {
    "type": "record",
    "name": "everything",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {"name": "s", "type": "string"},
        {"name": "u", "type": ["null", "long"]},
        {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["R", "G"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "f4", "size": 4}},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": "long"}],
            },
        },
        # named-type REFERENCE (second use of "inner" by name)
        {"name": "nested2", "type": ["null", "inner"]},
    ],
}

_FULL_ROWS = [
    {
        "b": True,
        "i": -1,
        "l": 2**62,
        "f": 1.5,
        "d": -2.25,
        "by": b"\x00\xff",
        "s": "héllo",
        "u": None,
        "e": "G",
        "fx": b"abcd",
        "arr": [0, -1, 2**40],
        "m": {"k1": "v1", "k2": "v2"},
        "nested": {"x": 7},
        "nested2": {"x": 8},
    },
    {
        "b": False,
        "i": 0,
        "l": -(2**62),
        "f": 0.0,
        "d": 0.0,
        "by": b"",
        "s": "",
        "u": 42,
        "e": "R",
        "fx": b"\x00\x01\x02\x03",
        "arr": [],
        "m": {},
        "nested": {"x": -7},
        "nested2": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip_every_type(tmp_path, codec):
    p = tmp_path / "full.avro"
    avro_lite.write_container(p, _FULL_SCHEMA, _FULL_ROWS, codec=codec)
    schema, meta, rows = avro_lite.read_container(p)
    assert meta["avro.codec"] == codec
    # floats go through IEEE-754 single precision; everything else exact
    assert rows[0]["f"] == pytest.approx(1.5)
    for got, want in zip(rows, _FULL_ROWS):
        got = dict(got)
        got.pop("f")
        want = dict(want)
        want.pop("f")
        assert got == want


def test_avro_deterministic_output(tmp_path):
    a, b = tmp_path / "a.avro", tmp_path / "b.avro"
    avro_lite.write_container(a, _FULL_SCHEMA, _FULL_ROWS)
    avro_lite.write_container(b, _FULL_SCHEMA, _FULL_ROWS)
    assert a.read_bytes() == b.read_bytes()  # no urandom sync, no wall clock


def test_avro_negative_count_block_form(tmp_path):
    """Readers must accept the size-prefixed (negative count) array/map block
    form even though our writer never emits it (spec: complex types)."""
    from file_deduplicator_spark.sources.avro_lite import _Reader, _decode, _zigzag

    items_schema = {"type": "array", "items": "long"}
    # block: count=-2 (so abs 2 + byte size), items 5, 7, terminator 0
    payload = _zigzag(-2) + _zigzag(2) + _zigzag(5) + _zigzag(7) + _zigzag(0)
    assert _decode(items_schema, {}, _Reader(payload)) == [5, 7]


def test_avro_unsupported_codec_and_truncation(tmp_path):
    p = tmp_path / "x.avro"
    avro_lite.write_container(p, "long", [1, 2, 3], codec="null")
    raw = bytearray(p.read_bytes())
    # corrupt the codec metadata value "null" -> "zstd" (same length)
    idx = raw.find(b"null", 4)
    raw[idx : idx + 4] = b"zstd"
    p.write_bytes(bytes(raw))
    with pytest.raises(NotImplementedError, match="zstd"):
        avro_lite.read_container(p)
    p2 = tmp_path / "trunc.avro"
    avro_lite.write_container(p2, "long", [1, 2, 3], codec="null")
    p2.write_bytes(p2.read_bytes()[:-10])
    with pytest.raises((EOFError, ValueError)):
        avro_lite.read_container(p2)


# ---------------------------------------------------------------------------
# iceberg_lite
# ---------------------------------------------------------------------------

_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_iceberg_roundtrip_and_layout(spark, tmp_path):
    t = tmp_path / "tbl"
    sid = iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1), ("b", "two", 2)]), t)
    assert sid == 0
    # real layout artifacts exist
    assert (t / "metadata" / "version-hint.text").read_text() == "1"
    assert list((t / "metadata").glob("v1.metadata.json"))
    assert list((t / "metadata").glob("snap-0-*.avro"))  # manifest list
    meta = iceberg_lite.table_metadata(t)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == 0
    got = iceberg_lite.read_table(spark, t)
    assert sorted(r.clip_id for r in got.collect()) == ["a", "b"]
    # schema fields carry spec ids
    assert [f["id"] for f in meta["schemas"][0]["fields"]] == [1, 2, 3]


def test_iceberg_incremental_contract(spark, tmp_path):
    """Exact semantics of Iceberg start-snapshot-id, same contract as the
    JSON backend's read_incremental (watch.py depends on it)."""
    t = tmp_path / "tbl"
    s0 = iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1)]), t)
    s1 = iceberg_lite.append_snapshot(_df(spark, [("b", "two", 2)]), t, source_snapshot=9)
    assert (s0, s1) == (0, 1)
    df, latest = iceberg_lite.read_incremental(spark, t, None)
    assert latest == 1 and sorted(r.clip_id for r in df.collect()) == ["a", "b"]
    df, latest = iceberg_lite.read_incremental(spark, t, s0)
    assert latest == 1 and [r.clip_id for r in df.collect()] == ["b"]
    df, latest = iceberg_lite.read_incremental(spark, t, s1)
    assert df is None and latest == 1
    # an end snapshot bounds the read: the rows one snapshot added
    s2 = iceberg_lite.append_snapshot(_df(spark, [("c", "three", 3)]), t)
    df, end = iceberg_lite.read_incremental(spark, t, s0, s1)
    assert end == s1 and [r.clip_id for r in df.collect()] == ["b"]
    df, end = iceberg_lite.read_incremental(spark, t, None, s0)
    assert end == s0 and [r.clip_id for r in df.collect()] == ["a"]
    # snapshot summaries carry the idempotence metadata and the parent id
    summ = iceberg_lite.snapshot_summaries(t)
    assert summ[1]["source_snapshot"] == "9"
    assert summ[1]["operation"] == "append"
    assert [m["parent_snapshot_id"] for m in summ] == [None, s0, s1]
    assert summ[-1]["snapshot_id"] == s2


def test_iceberg_append_refuses_another_schema(spark, tmp_path):
    """The table metadata declares one schema: a frame with another column
    name or type is refused before any file is written, and nullability
    alone does not count as another schema."""
    from pyspark.sql import functions as F

    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1)]), t)
    other = {
        "renamed": _df(spark, [("b", "two", 2)]).withColumnRenamed("n", "m"),
        "retyped": _df(spark, [("b", "two", 2)]).withColumn("n", F.col("n").cast("int")),
        "extra": _df(spark, [("b", "two", 2)]).withColumn("x", F.lit(1.0)),
    }
    for name, df in other.items():
        with pytest.raises(ValueError, match="differ from the schema"):
            iceberg_lite.append_snapshot(df, t)
    assert [p.name for p in (t / "data").iterdir()] == ["snap-000000"]
    assert len(iceberg_lite.snapshot_summaries(t)) == 1
    # same names and types in another order, non-null: appended
    iceberg_lite.append_snapshot(
        _df(spark, [("b", "two", 2)]).select("n", F.coalesce("transcript", F.lit("")).alias(
            "transcript"), "clip_id"), t)
    assert sorted(r.clip_id for r in iceberg_lite.read_table(spark, t).collect()) == ["a", "b"]


def test_iceberg_relocated_table_reads(spark, tmp_path):
    """Iceberg metadata records absolute paths against the original location;
    a moved/copied table must still read (object-store restore case)."""
    import shutil

    t = tmp_path / "orig"
    iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1)]), t)
    moved = tmp_path / "elsewhere" / "tbl"
    moved.parent.mkdir()
    shutil.move(str(t), str(moved))
    got = iceberg_lite.read_table(spark, moved)
    assert [r.clip_id for r in got.collect()] == ["a"]


def test_iceberg_reads_java_alias_field_names(spark, tmp_path):
    """The Java implementation kept v1 Avro names (added_data_files_count) in
    v2 manifest lists; the reader must accept both spellings. Synthesizes a
    manifest list with alias names over a table our writer produced."""
    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1)]), t)
    meta = iceberg_lite.table_metadata(t)
    mlist_path = iceberg_lite._resolve(meta["snapshots"][-1]["manifest-list"], meta, t)
    _, _, entries = avro_lite.read_container(mlist_path)
    alias_schema = json.loads(json.dumps(iceberg_lite._MANIFEST_LIST_SCHEMA))
    renames = {
        "added_files_count": "added_data_files_count",
        "existing_files_count": "existing_data_files_count",
        "deleted_files_count": "deleted_data_files_count",
    }
    for f in alias_schema["fields"]:
        f["name"] = renames.get(f["name"], f["name"])
    alias_entries = [
        {renames.get(k, k): v for k, v in e.items()} for e in entries
    ]
    avro_lite.write_container(mlist_path, alias_schema, alias_entries)
    files = iceberg_lite.data_files(t)
    assert files and all(f["snapshot_id"] == 0 for f in files)
    assert [r.clip_id for r in iceberg_lite.read_table(spark, t).collect()] == ["a"]


def test_iceberg_delete_manifest_gated(spark, tmp_path):
    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1)]), t)
    meta = iceberg_lite.table_metadata(t)
    mlist_path = iceberg_lite._resolve(meta["snapshots"][-1]["manifest-list"], meta, t)
    schema, _, entries = avro_lite.read_container(mlist_path)
    entries[0]["content"] = 1  # DELETES manifest
    avro_lite.write_container(mlist_path, iceberg_lite._MANIFEST_LIST_SCHEMA, entries)
    with pytest.raises(NotImplementedError, match="delete"):
        iceberg_lite.data_files(t)


def test_watch_over_iceberg_source(spark, tmp_path):
    """North rule: resumable incremental dedup over Iceberg snapshots — the
    watch path runs UNCHANGED over a real-format Iceberg source table."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.datagen import _synth_pcm
    from file_deduplicator_spark.functions.audio import wav_encode
    from file_deduplicator_spark.streaming.watch import process_new_snapshots

    clip_schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("sr_hz", T.IntegerType()),
            T.StructField("dur_ms", T.IntegerType()),
            T.StructField("codec", T.StringType()),
            T.StructField("transcript", T.StringType()),
        ]
    )
    rng = np.random.RandomState(7)
    base = _synth_pcm(rng, 16000, 600)

    def row(cid, pcm, txt):
        return (cid, bytearray(wav_encode(pcm, 16000)),
                16000, int(len(pcm) / 16000 * 1000), "wav", txt)

    src = tmp_path / "ice_src"
    state = tmp_path / "state"
    cfg = DedupConfig()
    iceberg_lite.append_snapshot(
        spark.createDataFrame([row("clip_a", base, "the quick brown fox")], clip_schema),
        src,
    )
    s0 = process_new_snapshots(spark, src, state, cfg)
    assert s0["new_rows"] == 1 and s0["alerts"] == 0
    assert s0["last_source_snapshot"] == 0
    # second Iceberg commit: byte-identical clip → exact alert, new arrival is victim
    iceberg_lite.append_snapshot(
        spark.createDataFrame([row("clip_dup", base, "the quick brown fox")], clip_schema),
        src,
    )
    s1 = process_new_snapshots(spark, src, state, cfg)
    assert s1["new_rows"] == 1 and s1["alerts"] >= 1
    assert s1["last_source_snapshot"] == 1
    # noop batch: checkpoint resumes from the Iceberg snapshot id
    s2 = process_new_snapshots(spark, src, state, cfg)
    assert s2["new_rows"] == 0 and s2["last_source_snapshot"] == 1
    assert s2["actions"] == 0


def test_reappend_carries_forward_prev_manifest_counts(spark, tmp_path):
    """The manifest list written on a re-append must preserve the previous
    manifests' file/row counts (round-4 review: an alias-only field lookup
    zeroed them for tables this module wrote itself)."""
    from file_deduplicator_spark.sources.avro_lite import read_container

    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(_df(spark, [("a", "one", 1), ("b", "two", 2)]), t)
    iceberg_lite.append_snapshot(_df(spark, [("c", "three", 3)]), t)
    meta = iceberg_lite.table_metadata(t)
    snap = iceberg_lite.snapshots(meta)[-1]
    _, _, mlist = read_container(snap["manifest-list"])
    by_snap = {m["added_snapshot_id"]: m for m in mlist}
    assert by_snap[0]["added_files_count"] > 0
    assert by_snap[0]["added_rows_count"] == 2
    assert by_snap[1]["added_rows_count"] == 1


def test_iceberg_snapshots_timestamp_columns(spark, tmp_path):
    """A clips table with modification times commits as a snapshot: Spark
    timestamp maps to Iceberg timestamptz, timestamp_ntz to timestamp, and
    both values come back unchanged from a full and an incremental read."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("mtime", T.TimestampType()),
            T.StructField("mtime_ntz", T.TimestampNTZType()),
        ]
    )
    rows = [
        ("a", dt.datetime(2021, 3, 4, 5, 6, 7, 890123), dt.datetime(2021, 3, 4, 5, 6, 7, 890123)),
        ("b", dt.datetime(1999, 12, 31, 23, 59, 59), dt.datetime(2030, 1, 1)),
    ]
    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(spark.createDataFrame(rows[:1], schema), t)
    s1 = iceberg_lite.append_snapshot(spark.createDataFrame(rows[1:], schema), t)

    fields = iceberg_lite.table_metadata(t)["schemas"][0]["fields"]
    assert {f["name"]: f["type"] for f in fields} == {
        "clip_id": "string", "mtime": "timestamptz", "mtime_ntz": "timestamp",
    }

    def values(df):
        return sorted((r.clip_id, r.mtime, r.mtime_ntz) for r in df.collect())

    full = iceberg_lite.read_table(spark, t)
    assert dict(full.dtypes) == {"clip_id": "string", "mtime": "timestamp",
                                 "mtime_ntz": "timestamp_ntz"}
    assert values(full) == sorted(rows)
    inc, latest = iceberg_lite.read_incremental(spark, t, 0)
    assert latest == s1 and values(inc) == rows[1:]


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("minhash_sig", T.ArrayType(T.LongType())),
        T.StructField("n", T.LongType()),
    ]
)


def test_iceberg_list_column_roundtrip(spark, tmp_path):
    """The watch state's `minhash_sig array<long>` commits as an Iceberg
    list: a null, an empty and a 64-element array come back unchanged from
    a full and an incremental read, and the metadata carries the list type
    with an element id counted in last-column-id. Nested lists still raise."""
    sig = [(-1) ** k * (k << 40) for k in range(64)]
    rows = [("a", None, 1), ("b", [], 2), ("c", sig, 3)]
    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(spark.createDataFrame(rows[:1], _SIG_SCHEMA), t)
    s1 = iceberg_lite.append_snapshot(spark.createDataFrame(rows[1:], _SIG_SCHEMA), t)

    meta = iceberg_lite.table_metadata(t)
    fields = {f["name"]: f for f in meta["schemas"][0]["fields"]}
    assert fields["minhash_sig"]["type"] == {
        "type": "list", "element-id": 4, "element": "long", "element-required": False,
    }
    assert [f["id"] for f in fields.values()] == [1, 2, 3]
    assert meta["last-column-id"] == 4

    def values(df):
        return sorted((r.clip_id, r.minhash_sig, r.n) for r in df.collect())

    full = iceberg_lite.read_table(spark, t)
    assert dict(full.dtypes)["minhash_sig"] == "array<bigint>"
    assert values(full) == rows
    inc, latest = iceberg_lite.read_incremental(spark, t, 0)
    assert latest == s1 and values(inc) == rows[1:]

    nested = T.StructType([T.StructField("x", T.ArrayType(T.ArrayType(T.LongType())))])
    with pytest.raises(NotImplementedError, match="array"):
        iceberg_lite.append_snapshot(spark.createDataFrame([([[1]],)], nested),
                                     tmp_path / "nested")


def test_iceberg_name_mapping_covers_every_column(spark, tmp_path):
    """Data files are written without Parquet field ids, so the table
    carries the spec's `schema.name-mapping.default`: it maps every column
    name, and a list column's `element`, to its field id in the schema."""
    t = tmp_path / "tbl"
    iceberg_lite.append_snapshot(
        spark.createDataFrame([("a", [1, 2], 1)], _SIG_SCHEMA), t)
    meta = iceberg_lite.table_metadata(t)
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])

    by_name = {m["names"][0]: m for m in mapping}
    fields = meta["schemas"][0]["fields"]
    assert sorted(by_name) == sorted(f["name"] for f in fields)
    for f in fields:
        assert by_name[f["name"]]["field-id"] == f["id"]
    lst = next(f for f in fields if f["name"] == "minhash_sig")
    assert by_name["minhash_sig"]["fields"] == [
        {"field-id": lst["type"]["element-id"], "names": ["element"]}]
