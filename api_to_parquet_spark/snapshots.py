"""Manifest-committed lake snapshots: atomic per-batch replace, time
travel, and vacuum on plain parquet — no table-format jars.

The reference's idempotent replay contract is overwrite-by-`file`-key
(README.md:88, upload at src/main.go:306). A blob PUT of one object is
atomic, but a multi-file Spark rewrite of a directory is NOT: a reader
listing the directory mid-replace sees partial state. This module closes
that gap with the core idea behind Delta/Iceberg, reduced to its
essentials:

- every batch's rows land in a FRESH immutable directory
  (`_data/<hash>-<n>/`) — nothing is ever modified in place;
- a JSON manifest (`_manifests/v<NNNNN>.json`) maps each `file` key to
  its current data directory; committing a batch = writing the next
  manifest version via write-temp + atomic rename;
- readers resolve a manifest ONCE and read exactly its directories —
  a snapshot view that cannot observe a half-replaced batch;
- old versions stay readable (time travel) until `vacuum` drops data
  directories no retained manifest references.

Single-writer by design (versions are assigned by listing — the same
coordination level as the reference's last-write-wins blob PUT; a real
multi-writer deployment puts a lock or log service in front, which is
exactly what Delta's transaction log is). Scale bound worth naming: the
manifest is a full key→dir map, O(live keys) JSON per version — fine to
~10^5 keys; beyond that the log needs segmenting + checkpointing, which
is precisely the part of Delta/Iceberg this module deliberately does
not rebuild. Citations: /root/reference/README.md:88 (overwrite
contract), src/main.go:288-306 (per-POST upload path).
"""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_parquet_spark import lake

_MANIFESTS = "_manifests"
_DATA = "_data"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _list_versions(spark: SparkSession, root: str) -> list[int]:
    jvm, fs = _fs(spark, root)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{root}/{_MANIFESTS}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    jvm, fs = _fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{root}/{_MANIFESTS}/v{version:05d}.json"
    )
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _write_manifest(
    spark: SparkSession, root: str, version: int, manifest: dict
) -> None:
    """Write-temp + atomic rename: the manifest becomes visible all at
    once or not at all — the commit point."""
    jvm, fs = _fs(spark, root)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{root}/{_MANIFESTS}/.tmp-{uuid.uuid4().hex}"
    )
    final = jvm.org.apache.hadoop.fs.Path(
        f"{root}/{_MANIFESTS}/v{version:05d}.json"
    )
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps(manifest, sort_keys=True).encode("utf-8"))
    finally:
        out.close()
    # HDFS rename fails onto an existing destination, but POSIX (local
    # fs) rename silently REPLACES it — check existence explicitly so
    # the lost-commit guard holds on every filesystem. (The residual
    # exists→rename window is the documented single-writer caveat.)
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise RuntimeError(f"concurrent commit detected for v{version}")


def commit_batch(
    spark: SparkSession, root: str, points: DataFrame
) -> int:
    """Commit one ingested batch (normalized points carrying the `file`
    column): each distinct `file` key's latest envelope
    (lake.latest_per_key) lands in a fresh data directory, then the next
    manifest atomically re-points those keys.
    Returns the committed version number. Replaying a key leaves the old
    directory in place for time travel until vacuum."""
    versions = _list_versions(spark, root)
    manifest = _read_manifest(spark, root, versions[-1]) if versions else {}
    for key, rows in lake.latest_per_key(points):
        data_dir = f"{_DATA}/{uuid.uuid4().hex}"
        rows.write.mode("error").parquet(posixpath.join(root, data_dir))
        manifest[key] = data_dir
    next_version = (versions[-1] + 1) if versions else 0
    _write_manifest(spark, root, next_version, manifest)
    return next_version


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read one consistent snapshot (latest, or a pinned version for
    time travel). The directory set is resolved from the manifest ONCE
    — concurrent commits cannot change what this DataFrame reads.

    Each directory is filtered to the keys the manifest still maps to
    it: after `compact` several keys share a directory, and a later
    replay of one key re-points only that key — its stale rows in the
    shared directory must never surface. The `file IN (...)` predicate
    is pushed into the parquet scan (dictionary/stats skipping), and
    for the common unshared-single-key case it is trivially true."""
    versions = _list_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {root}")
    v = versions[-1] if version is None else version
    manifest = _read_manifest(spark, root, v)
    by_dir: dict[str, list[str]] = {}
    for key, d in manifest.items():
        by_dir.setdefault(d, []).append(key)
    parts = [
        spark.read.parquet(posixpath.join(root, d)).filter(
            F.col("file").isin(keys)
        )
        for d, keys in sorted(by_dir.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Bin-pack the latest snapshot's per-key data directories into
    shared compacted directories and commit the re-pointing as ONE
    atomic manifest version — the OPTIMIZE analogue, and the
    transactional answer to the maintenance-vs-replay race that
    `ops.compact_partition` can only detect optimistically: here the
    commit point is the manifest rename, so a replay landing mid-
    compaction either commits before (compaction's rename fails —
    caller retries against fresh state) or after (it re-points its key
    away from the shared dir; `read_snapshot`'s per-dir key filter
    hides the stale rows). Old versions keep reading their original
    directories until vacuum. Returns the new version, or -1 if there
    was nothing to compact."""
    versions = _list_versions(spark, root)
    if not versions:
        return -1
    base_version = versions[-1]
    manifest = dict(_read_manifest(spark, root, base_version))
    jvm, fs = _fs(spark, root)

    def dir_bytes(rel: str) -> int:
        p = jvm.org.apache.hadoop.fs.Path(posixpath.join(root, rel))
        return int(fs.getContentSummary(p).getLength())

    # bin-pack SMALL per-key dirs (skip anything already >= half
    # target). dir_bytes is measured once per distinct dir, and keys
    # already sharing one compacted dir don't re-qualify below.
    sizes = {d: dir_bytes(d) for d in set(manifest.values())}
    small = sorted(
        (key, d, sizes[d])
        for key, d in manifest.items()
        if sizes[d] < target_bytes // 2
    )
    bins: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    cur_bytes = 0
    for key, d, nb in small:
        if cur and cur_bytes + nb > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append((key, d))
        cur_bytes += nb
    if cur:
        bins.append(cur)
    # a bin whose keys ALL already share one directory is already
    # compacted — rewriting it would bump a version per maintenance run
    # forever (review finding: compact() never converged)
    bins = [
        b
        for b in bins
        if len(b) > 1 and len({d for _, d in b}) > 1
    ]
    if not bins:
        return -1
    for group in bins:
        dirs = sorted({d for _, d in group})
        keys = [k for k, _ in group]
        new_dir = f"{_DATA}/compact-{uuid.uuid4().hex}"
        (
            spark.read.parquet(*[posixpath.join(root, d) for d in dirs])
            .filter(F.col("file").isin(keys))
            .coalesce(1)
            .write.mode("error")
            .parquet(posixpath.join(root, new_dir))
        )
        for k in keys:
            manifest[k] = new_dir
    # the atomic commit: if anything (a replay) committed base+1 first,
    # the rename fails and nothing is re-pointed.
    new_version = base_version + 1
    _write_manifest(spark, root, new_version, manifest)
    return new_version


def history(spark: SparkSession, root: str) -> list[dict]:
    """Version log: one entry per manifest with its key->dir mapping."""
    return [
        {"version": v, "keys": _read_manifest(spark, root, v)}
        for v in _list_versions(spark, root)
    ]


def vacuum(
    spark: SparkSession, root: str, keep_last: int = 1
) -> int:
    """Drop data directories referenced by NO retained manifest (and the
    dropped manifests themselves), keeping the last `keep_last` versions
    readable. Returns the number of data directories removed. The
    Delta VACUUM analogue — time travel shrinks to the retained window."""
    versions = _list_versions(spark, root)
    keep = versions[-keep_last:] if keep_last else []
    retained = set()
    for v in keep:
        retained.update(_read_manifest(spark, root, v).values())
    jvm, fs = _fs(spark, root)
    removed = 0
    ddir = jvm.org.apache.hadoop.fs.Path(f"{root}/{_DATA}")
    if fs.exists(ddir):
        for st in fs.listStatus(ddir):
            rel = f"{_DATA}/{st.getPath().getName()}"
            if rel not in retained:
                fs.delete(st.getPath(), True)
                removed += 1
    for v in versions:
        if v not in keep:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{root}/{_MANIFESTS}/v{v:05d}.json"
                ),
                False,
            )
    return removed
