"""From-scratch Apache Iceberg (format v1) table reader/writer.

The north-star input is "an Iceberg table of Common-Crawl-style web pages"
(BASELINE.json input_hint); no Iceberg runtime jar exists in this
environment, so — as with the 7z and Avro codecs — this implements the
PUBLIC Iceberg table spec (https://iceberg.apache.org/spec/) directly on
the metadata layer:

    table/
      metadata/ version-hint.text            (Hadoop-catalog convention)
                v<N>.metadata.json           (table metadata + snapshots)
                snap-<id>.avro               (manifest list, Avro OCF)
                <id>-m0.avro                 (manifest, Avro OCF)
      data/     snap-<id>/*.parquet          (data files, written by Spark)

* ``read_iceberg`` resolves the CURRENT snapshot (or a caller-given
  ``snapshot_id`` — time travel) through metadata json -> manifest list ->
  manifests -> live data files (status != DELETED), then hands the exact
  file list, with the snapshot's own schema, to ``spark.read.parquet``:
  scan parallelism, predicate pushdown and column pruning are all
  Spark-native from there.
* ``write_iceberg`` commits append/overwrite snapshots: data files written
  by a normal distributed Spark job, per-file record counts taken from
  parquet FOOTERS (no re-scan), then manifest -> manifest list -> new
  metadata json -> version hint, in that order. The atomic commit point is
  the rename-without-overwrite of ``v<N>.metadata.json`` (optimistic
  concurrency: a committer that raced from the same base version loses the
  rename, re-reads the table and retries — HadoopTableOperations'
  protocol); the hint flip after it is advisory, and readers probe upward
  past a stale hint. A crash mid-commit leaves the old snapshot current
  and only unreferenced orphan files behind (Iceberg's own failure model).
* ``current_snapshot_id`` / ``snapshots`` expose metadata for lineage:
  ``geocode_pages`` stamps its lineage manifests with the snapshot id READ
  FROM TABLE METADATA, so resume-correctness does not depend on an
  operator hand-passing the right string.

All file I/O goes through the Hadoop FileSystem API (plans/fsio.FsPath),
so file://, hdfs:// and s3a:// table locations behave identically.
Snapshot ids are sequential (deterministic fixtures/tests), which the spec
permits: ids must only be unique within the table.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from ..plans.fsio import FsPath
from .avro_ocf import read_ocf, write_ocf

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

# Avro schemas for v1 manifests, field-ids per the Iceberg spec tables
# ("Manifests" / "Manifest Lists"); only required v1 fields are written —
# readers (including real Iceberg's) treat the omitted optional columns
# as null.
MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                {"name": "block_size_in_bytes", "type": "long",
                 "field-id": 105},
            ]}},
    ]}

MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 503},
    ]}

_STATUS_DELETED = 2
_COMMIT_RETRIES = 10

_SPARK_TO_ICEBERG = {
    "string": "string", "long": "long", "int": "int", "integer": "int",
    "double": "double", "float": "float", "boolean": "boolean",
    "binary": "binary", "date": "date", "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp", "short": "int", "byte": "int",
}
# the inverse, for reads: int is Iceberg's narrowest integer, so short and
# byte columns come back as int
_ICEBERG_TO_SPARK = {
    "string": T.StringType(), "long": T.LongType(), "int": T.IntegerType(),
    "double": T.DoubleType(), "float": T.FloatType(),
    "boolean": T.BooleanType(), "binary": T.BinaryType(),
    "date": T.DateType(), "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}


class IcebergError(RuntimeError):
    pass


def _meta_dir(spark, table_path) -> FsPath:
    return FsPath(spark, str(table_path)).child("metadata")


def _current_version(meta: FsPath) -> int:
    """Version from the hint file, else the highest v<N>.metadata.json.

    A missing OR unparseable hint falls back to the newest metadata file:
    the commit protocol (temp + rename, below) can leave the hint briefly
    absent, and a torn write on a weaker filesystem must degrade to the
    newest-version scan, not brick the table with a ValueError."""
    hint = meta.child("version-hint.text")
    v = None
    if hint.exists():
        try:
            v = int(hint.read_text().strip())
        except Exception:
            # unparseable content OR a read that lost the race with the
            # commit's delete-then-rename window (exists() saw the hint,
            # read_text() found it gone): both degrade to the scan below
            pass
    if v is None:
        versions = [int(n[1:].split(".")[0])
                    for n in meta.list_names("v*.metadata.json")]
        if not versions:
            raise IcebergError(f"no Iceberg metadata under {meta}")
        v = max(versions)
    # The hint is best-effort: concurrent committers flip it last, so it can
    # be one-or-more versions stale. Probe upward to the newest COMMITTED
    # metadata file (same walk as Iceberg HadoopTableOperations.findVersion)
    # so a stale hint never hides a committed snapshot.
    while meta.child(f"v{v + 1}.metadata.json").exists():
        v += 1
    return v


def is_iceberg_table(spark, table_path) -> bool:
    """Whether ``<table_path>/metadata`` lists a ``v<N>.metadata.json``
    (one listing; which version is current is left to the reader)."""
    try:
        return bool(_meta_dir(spark, table_path)
                    .list_names("v*.metadata.json"))
    except Exception:
        return False


def load_table_metadata(spark, table_path, version: int | None = None) -> dict:
    meta = _meta_dir(spark, table_path)
    v = version if version is not None else _current_version(meta)
    return json.loads(meta.child(f"v{v}.metadata.json").read_text())


def snapshots(spark, table_path) -> list[dict]:
    return load_table_metadata(spark, table_path).get("snapshots", [])


def current_snapshot_id(spark, table_path) -> int | None:
    md = load_table_metadata(spark, table_path)
    sid = md.get("current-snapshot-id", -1)
    return None if sid in (-1, None) else int(sid)


def _snapshot(md: dict, snapshot_id: int | None) -> dict:
    snaps = md.get("snapshots", [])
    if not snaps:
        raise IcebergError("table has no snapshots")
    if snapshot_id is None:
        sid = md.get("current-snapshot-id")
        if sid in (None, -1):
            raise IcebergError("table has no current snapshot")
        snapshot_id = sid
    for s in snaps:
        if int(s["snapshot-id"]) == int(snapshot_id):
            return s
    raise IcebergError(f"snapshot {snapshot_id} not found "
                       f"(have {[s['snapshot-id'] for s in snaps]})")


def data_files(spark, table_path, snapshot_id: int | None = None,
               md: dict | None = None) -> list[dict]:
    """Live data-file entries (dicts with file_path/record_count/...) of a
    snapshot: metadata json -> manifest list OCF -> manifest OCFs, DELETED
    entries dropped. ``md`` is the table metadata when the caller already
    loaded it."""
    if md is None:
        md = load_table_metadata(spark, table_path)
    snap = _snapshot(md, snapshot_id)
    mlist_path = FsPath(spark, snap["manifest-list"])
    _, _, manifest_files = read_ocf(mlist_path.read_bytes())
    files: list[dict] = []
    for mf in manifest_files:
        mpath = FsPath(spark, mf["manifest_path"])
        _, _, entries = read_ocf(mpath.read_bytes())
        for e in entries:
            if e.get("status") == _STATUS_DELETED:
                continue
            files.append(e["data_file"])
    return files


def read_iceberg(spark: "SparkSession", table_path,
                 snapshot_id: int | None = None) -> "DataFrame":
    """Snapshot-isolated read: exactly the snapshot's live files reach the
    parquet scan, so a concurrent append never bleeds rows into a running
    job (the property lineage resume depends on).

    The scan takes the snapshot's schema from table metadata, so no
    footer-inference job runs. Iceberg's narrowest integer is ``int``:
    short and byte columns written by :func:`write_iceberg` come back as
    int. A schema with no fields, or with a type outside
    ``_ICEBERG_TO_SPARK`` (decimal, nested, ...), falls back to the
    schema parquet infers from the files."""
    md = load_table_metadata(spark, table_path)
    files = data_files(spark, table_path, snapshot_id, md=md)
    if not files:
        raise IcebergError("snapshot has no data files")
    schema = _spark_schema(md, _snapshot(md, snapshot_id))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[f["file_path"] for f in files])


def _spark_schema(md: dict, snap: dict) -> "T.StructType | None":
    """The snapshot's Iceberg schema as a Spark schema (v1 ``schema`` or
    the v2 ``schemas`` entry the snapshot names), None if unmappable."""
    sid = snap.get("schema-id", md.get("current-schema-id"))
    schema = next((s for s in md.get("schemas", [])
                   if s.get("schema-id") == sid), md.get("schema"))
    fields = (schema or {}).get("fields") or []
    types = [_ICEBERG_TO_SPARK.get(f["type"]) if isinstance(f["type"], str)
             else None for f in fields]
    if not fields or any(t is None for t in types):
        return None
    return T.StructType([T.StructField(f["name"], t)
                         for f, t in zip(fields, types)])


def _iceberg_schema(df: "DataFrame") -> dict:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        t = _SPARK_TO_ICEBERG.get(f.dataType.typeName())
        if t is None:
            raise IcebergError(
                f"column {f.name!r}: no Iceberg mapping for Spark type "
                f"{f.dataType.typeName()!r}")
        fields.append({"id": i, "name": f.name,
                       "required": not f.nullable, "type": t})
    return {"type": "struct", "schema-id": 0, "fields": fields}


def write_iceberg(spark: "SparkSession", df: "DataFrame", table_path,
                  mode: str = "append") -> int:
    """Commit ``df`` as a new snapshot; returns the new snapshot id.

    ``mode="append"`` keeps prior data live (the new manifest list carries
    the previous snapshot's manifests forward unchanged — an O(1) commit,
    no old-manifest rewrite); ``mode="overwrite"`` starts the file list
    fresh. Either way prior snapshots stay readable (time travel)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    table = FsPath(spark, str(table_path))
    meta = table.child("metadata")
    meta.mkdirs()
    # Commit-unique token: every file this committer writes (data dir,
    # manifest, manifest list, metadata temp) carries it, so two committers
    # racing from the same base version can NEVER overwrite each other's
    # bytes — they only contend on the v<N>.metadata.json rename below.
    token = uuid.uuid4().hex[:12]

    # 1) data files: one distributed parquet write into a per-commit dir.
    #    Written once, outside the retry loop — a commit conflict re-derives
    #    ids and metadata but reuses the same (token-unique) data files.
    data_dir = table.child("data").child(f"snap-{token}")
    df.write.mode("overwrite").parquet(str(data_dir))
    data_files_ = []
    for name in data_dir.list_names("*.parquet"):
        fp = data_dir.child(name)
        data_files_.append({
            "file_path": str(fp),
            "file_format": "PARQUET",
            "partition": {},
            "record_count": fp.parquet_file_rows(),
            "file_size_in_bytes": fp.size(),
            # v1-required, deprecated by the spec; fixed advisory value
            "block_size_in_bytes": 64 * 1024 * 1024,
        })
    schema_json = json.dumps(_iceberg_schema(df))

    for attempt in range(_COMMIT_RETRIES):
        # (Re-)derive version / snapshot id from the CURRENT table state —
        # a lost race re-enters here and sees the winner's commit.
        prior_md: dict | None = None
        prior_manifests: list[dict] = []
        version = 0
        try:
            version = _current_version(meta)
            prior_md = load_table_metadata(spark, table_path, version)
        except IcebergError:
            pass
        snap_id = 1 + max((int(s["snapshot-id"])
                           for s in (prior_md or {}).get("snapshots", [])),
                          default=0)
        if mode == "append" and prior_md is not None:
            cur = prior_md.get("current-snapshot-id")
            if cur not in (None, -1):
                snap = _snapshot(prior_md, cur)
                _, _, prior_manifests = read_ocf(
                    FsPath(spark, snap["manifest-list"]).read_bytes())

        # 2) manifest
        manifest_path = meta.child(f"{token}-a{attempt}-m0.avro")
        manifest_bytes = write_ocf(
            MANIFEST_ENTRY_SCHEMA,
            [{"status": 1, "snapshot_id": snap_id, "data_file": d}
             for d in data_files_],
            extra_meta={"schema": schema_json.encode(),
                        "partition-spec": b"[]",
                        "partition-spec-id": b"0",
                        "format-version": b"1",
                        "content": b"data"})
        manifest_path.write_bytes(manifest_bytes)

        # 3) manifest list (append carries prior manifests forward)
        mlist_entries = [{"manifest_path": str(manifest_path),
                          "manifest_length": len(manifest_bytes),
                          "partition_spec_id": 0,
                          "added_snapshot_id": snap_id}]
        if mode == "append":
            mlist_entries += prior_manifests
        mlist_path = meta.child(f"snap-{snap_id}-{token}-a{attempt}.avro")
        mlist_path.write_bytes(
            write_ocf(MANIFEST_LIST_SCHEMA, mlist_entries,
                      extra_meta={"format-version": b"1"}))

        # 4) table metadata json
        now_ms = int(time.time() * 1000)
        added_rows = sum(d["record_count"] for d in data_files_)
        snapshot = {
            "snapshot-id": snap_id,
            "timestamp-ms": now_ms,
            "manifest-list": str(mlist_path),
            "summary": {"operation": mode,
                        "added-data-files": str(len(data_files_)),
                        "added-records": str(added_rows)},
            "schema-id": 0,
        }
        if (prior_md is not None
                and prior_md.get("current-snapshot-id", -1) != -1):
            snapshot["parent-snapshot-id"] = prior_md["current-snapshot-id"]
        md = {
            "format-version": 1,
            "table-uuid": (prior_md or {}).get(
                "table-uuid",
                str(uuid.uuid5(uuid.NAMESPACE_URL, str(table)))),
            "location": str(table),
            "last-updated-ms": now_ms,
            "last-column-id": len(df.schema.fields),
            "schema": _iceberg_schema(df),
            "schemas": [_iceberg_schema(df)],
            "current-schema-id": 0,
            "partition-spec": [],
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "properties": {},
            "current-snapshot-id": snap_id,
            "snapshots": (prior_md or {}).get("snapshots", []) + [snapshot],
            "snapshot-log": (prior_md or {}).get("snapshot-log", [])
            + [{"timestamp-ms": now_ms, "snapshot-id": snap_id}],
            "metadata-log": [],
        }
        new_version = version + 1
        # temp + rename for the metadata json: the newest-version fallback
        # in _current_version SELECTS this file when the hint is absent, so
        # a crash mid-write must never leave a half-written
        # v<N>.metadata.json in place. The temp name does not match the
        # v*.metadata.json glob, so an orphaned temp is invisible.
        #
        # THE commit point is this rename, and it must be rename-WITHOUT-
        # overwrite (Hadoop rename returns false when the destination
        # exists): a concurrent committer who raced from the same base
        # version loses exactly here, keeps the winner's file intact, and
        # retries against the advanced table state — the same optimistic-
        # concurrency protocol as Iceberg's HadoopTableOperations.
        md_final = meta.child(f"v{new_version}.metadata.json")
        md_tmp = meta.child(f"v{new_version}.metadata.json.tmp-{token}")
        md_tmp.write_text(json.dumps(md))
        if md_tmp.rename(md_final):
            break
        md_tmp.delete_recursive()
        if not md_final.exists():
            raise IcebergError(
                f"commit failed: could not move {md_tmp} -> {md_final} "
                "and the destination does not exist (I/O error, not a "
                "commit conflict)")
        # lost the race: the loop re-derives version/snapshot id; the
        # manifest/manifest-list written this attempt become unreferenced
        # orphans (Iceberg's own failure model — cleaned by maintenance)
    else:
        raise IcebergError(
            f"commit conflict: lost {_COMMIT_RETRIES} consecutive races "
            f"for {table}")

    # 5) hint flip — ADVISORY, after the real commit: readers that see a
    # stale hint are healed by the probe-upward walk in _current_version.
    # Temp + rename, NOT create(overwrite): a direct overwrite truncates
    # the live hint before the new bytes land, so a crash (or a concurrent
    # reader) mid-write would see an empty/partial hint. With rename the
    # hint is always either an old value, the new value, or briefly absent.
    hint = meta.child("version-hint.text")
    tmp = meta.child(f"version-hint.text.tmp-{token}")
    tmp.write_text(str(new_version))
    hint.delete_recursive()
    if not tmp.rename(hint):
        # a racing committer flipped the hint between our delete and
        # rename; theirs is at least as new, and readers probe upward
        tmp.delete_recursive()
    return snap_id
