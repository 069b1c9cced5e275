"""Per-partition lineage + idempotent checkpoint resume (north_rule).

The reference memoizes whole tables to pickles (cache_manager.py:22-119);
at 10^12 docs a job must instead resume mid-run. This module executes a
DataFrame-producing job with per-bucket lineage in ONE pass over the input:

* rows are assigned to ``n_buckets`` deterministic hash buckets of a key;
* already-committed buckets are filtered out BEFORE the transform (resume
  skips their compute entirely), so total scan volume is independent of
  ``n_buckets`` — one distributed write job, not one job per bucket;
* the remaining buckets are written in a single
  ``write.partitionBy("bucket")`` with dynamic partition overwrite to
  ``<out>/bucket=<i>/`` — idempotent (a re-run overwrites, never duplicates);
* per-bucket row counts come from the write itself: an ``Observation``
  (one ``count_if(bucket == b)`` per written bucket) sits directly under
  the write — only its local sort on ``bucket``, no exchange, between — so
  it runs in the write's result stage, where Spark applies each task's
  accumulator update exactly once, retries included: the counts are exact.
  Each written row evaluates one comparison per written bucket, so the
  cost is O(rows x buckets) — negligible at tens of buckets, a per-row
  cost that dominates the write at a thousand;
* a manifest ``_lineage/bucket=<i>.json`` is committed AFTER the data, with
  input snapshot id, operator version, bucket count, row count and timings;
  on restart, buckets with a committed manifest for the same
  (snapshot, version, n_buckets) are skipped.

All manifest/bucket I/O goes through the Hadoop FileSystem API
(``plans/fsio.py``) — the SAME abstraction the executors write data
through — so the module works unchanged against file://, hdfs:// and
s3a:// out_dirs. A 100 TB resumable job writes to cluster storage; a
lineage layer that only understood the driver's local disk would be
decorative.

``n_buckets`` is part of the lineage identity: manifests stamp it, and a
re-run with a DIFFERENT bucket count fully invalidates the output first
(all manifests retracted, all ``bucket=*`` dirs removed). Without that, a
shrink from 8 to 4 buckets would leave ``bucket=4..7`` data and manifests
in place and ``spark.read.parquet(out)`` would silently double-count them
alongside the re-bucketed rows.

Contract: ``transform`` must be key-local — every output row derives only
from input rows of a single ``key_col`` value, and ``key_col`` must survive
into the output (it is the lineage key). Row-wise maps and per-key
aggregations/joins qualify; both engine users (identity, geocode_documents)
do. This is what makes "transform(filtered buckets)" == "union of per-bucket
transforms" and lets the output be re-bucketed by the same hash.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .fsio import FsPath


@dataclass
class BucketResult:
    bucket: int
    rows: int
    seconds: float
    skipped: bool


def _read_manifest(mp: FsPath) -> dict | None:
    """Read + parse one manifest. Returns None for TORN content
    (unparseable JSON, or a PERSISTENT corruption error — checksum
    mismatch / unexpected EOF from a partial write). A transient I/O
    failure is retried and then RAISED: on a flaky store, converting a
    blip into "torn" would retract committed manifests wholesale and
    silently discard a multi-hour run's completed work.

    Checksum/EOF errors are NOT trusted on first sight: s3a/hdfs surface
    transient connection resets as wrapped EOFExceptions, so "EOF" alone
    cannot distinguish a half-written object from a dropped stream. Those
    errors are retried like any transient; only when the error persists
    across every attempt AND the object's size is stable across two stats
    (i.e. the bytes on the store really are short — nobody is still
    writing, nothing recovered) is the manifest declared torn."""
    last: Exception | None = None
    for attempt in range(3):
        try:
            return json.loads(mp.read_text())
        except ValueError:
            return None  # read succeeded, content is torn
        except Exception as e:
            last = e
            time.sleep(0.2 * (attempt + 1))
    if "Checksum" in str(last) or "EOFException" in str(last):
        try:
            size_a = mp.size()
            time.sleep(0.2)
            if mp.size() == size_a:
                return None  # stable short/corrupt object: torn write
        except Exception:
            pass  # can't even stat it: treat as the I/O failure below
    raise last


def _write_manifest(mp: FsPath, m: dict) -> None:
    """Single write-point for manifest json (same create/close visibility
    primitive as the commit path)."""
    mp.write_text(json.dumps(m))


def _bucket_col(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))


def run_with_lineage(
    df: DataFrame,
    out_dir: str | Path,
    key_col: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    n_buckets: int = 8,
    snapshot_id: str = "unknown",
    operator_version: str = "1",
) -> list[BucketResult]:
    """Execute ``transform`` over hash buckets of ``df`` with resume."""
    spark = df.sparkSession
    out = FsPath(spark, str(out_dir))
    lineage_dir = out.child("_lineage")
    lineage_dir.mkdirs()
    transform = transform or (lambda d: d)

    # ---- load prior manifests; enforce the n_buckets identity first ----
    manifests: dict[int, tuple[FsPath, dict]] = {}
    for name in lineage_dir.list_names("bucket=*.json"):
        mp = lineage_dir.child(name)
        m = _read_manifest(mp)
        try:
            bucket_id = int(m["bucket"]) if m is not None else None
        except (KeyError, ValueError, TypeError):
            bucket_id = None
        if bucket_id is None:
            # torn manifest from a crash mid-write (unparseable JSON /
            # missing fields / a deterministic corruption error like a
            # checksum mismatch on a partial write): an UNCOMMITTED
            # bucket — retract and recompute, instead of the resume
            # machinery itself failing on every restart. Blast radius is
            # that one bucket.
            mp.delete_recursive()
            continue
        manifests[bucket_id] = (mp, m)
    # Legacy manifests (written before n_buckets entered the identity)
    # carry no n_buckets field: treat missing as MATCHING, so upgrading the
    # library does not retract an entire committed run — and BACKFILL the
    # field so any LATER bucket-count change invalidates correctly. (The
    # one undetectable case is inherent: a legacy run resumed with a
    # different count never recorded what it was bucketed by; callers kept
    # that contract themselves pre-upgrade, and keep it for exactly one
    # more resume.)
    for b, (mp, m) in manifests.items():
        if "n_buckets" not in m:
            m["n_buckets"] = n_buckets
            _write_manifest(mp, m)
    if any(m.get("n_buckets") != n_buckets for _, m in manifests.values()):
        # bucket-count change: the hash partitioning itself moved — every
        # prior bucket is invalid. Retract ALL manifests before touching
        # data (crash-safe ordering: no committed manifest may ever point
        # at data this run deletes or overwrites), then remove all bucket
        # dirs, including ids beyond the new n_buckets that a plain re-run
        # would never visit but a parquet read of <out> would still sweep.
        for mp, _ in manifests.values():
            mp.delete_recursive()
        for name in out.list_names("bucket=*"):
            out.child(name).delete_recursive()
        manifests = {}

    committed: dict[int, dict] = {}
    for b in range(n_buckets):
        if b not in manifests:
            continue
        mp, m = manifests[b]
        if (m.get("snapshot_id") == snapshot_id
                and m.get("operator_version") == operator_version
                and m.get("committed")):
            committed[b] = m
        else:
            # the bucket is being recomputed for a different
            # (snapshot, version): retract the old manifest BEFORE any
            # data is touched, so a crash mid-run can never leave a
            # committed manifest pointing at deleted/overwritten data
            # (a later resume under the OLD snapshot must recompute,
            # not trust it)
            mp.delete_recursive()

    # sweep every data dir NOT covered by a committed manifest: todo
    # buckets about to be recomputed, and orphan dirs from a run that
    # crashed before committing any manifest — including bucket ids beyond
    # this n_buckets (a crashed larger-bucket-count run leaves dirs the
    # n_buckets identity check above cannot see, because that check only
    # reads manifests; a plain parquet read of <out> would double-count
    # them forever). Safe ordering: every surviving dir's manifest is
    # committed, every dir deleted here has no manifest (retracted above
    # or never written), so a crash mid-sweep just re-runs the sweep.
    keep = {f"bucket={b}" for b in committed}
    for name in out.list_names("bucket=*"):
        if name not in keep:
            out.child(name).delete_recursive()

    results = [BucketResult(b, m["rows"], 0.0, skipped=True)
               for b, m in committed.items()]
    todo = [b for b in range(n_buckets) if b not in committed]
    if todo:
        t0 = time.time()
        src = df
        if committed:
            # resume: committed buckets never reach the transform
            src = src.filter(
                _bucket_col(key_col, n_buckets).isin(todo))
        result = transform(src)
        if key_col not in result.columns:
            raise ValueError(
                f"lineage key column {key_col!r} must survive the transform "
                "(it is the per-bucket lineage key)")
        if "bucket" in result.columns:
            raise ValueError(
                "'bucket' is the reserved lineage partition column — rename "
                "the transform output column")
        # todo-bucket data dirs were already cleared by the sweep above
        # (so a bucket that legitimately produces ZERO rows this run
        # cannot inherit a prior run's files — dynamic overwrite only
        # replaces partitions that are actually written)
        obs = Observation()  # unique (UUID) name: one per write
        bucketed = result.withColumn(
            "bucket", _bucket_col(key_col, n_buckets)).observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(str(b))
                   for b in todo])
        # ONE distributed write job for every outstanding bucket; dynamic
        # overwrite (a writer option, so the session's own mode is left
        # alone) touches only the partitions being written
        bucketed.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("bucket").parquet(str(out))
        dt = time.time() - t0
        counts = obs.get
        for b in todo:
            rows = counts[str(b)]
            manifest = {
                "bucket": b,
                "n_buckets": n_buckets,
                "snapshot_id": snapshot_id,
                "operator_version": operator_version,
                "rows": rows,
                "seconds": round(dt, 3),  # wall time of the shared write job
                "committed": True,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            _write_manifest(lineage_dir.child(f"bucket={b}.json"), manifest)
            results.append(BucketResult(b, rows, dt, skipped=False))
    return sorted(results, key=lambda r: r.bucket)


def read_lineage(out_dir: str | Path, spark=None) -> list[dict]:
    """Read every committed manifest. Goes through the Hadoop FS when a
    SparkSession is available (required for hdfs://s3a:// out_dirs); plain
    pathlib otherwise (local paths, no running session needed)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is not None:
        lineage_dir = FsPath(spark, str(out_dir)).child("_lineage")
        return [json.loads(lineage_dir.child(n).read_text())
                for n in lineage_dir.list_names("bucket=*.json")]
    lineage_dir = Path(out_dir) / "_lineage"
    return [json.loads(p.read_text())
            for p in sorted(lineage_dir.glob("bucket=*.json"))]
