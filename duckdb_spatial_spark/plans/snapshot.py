"""Snapshot (manifest) commit protocol: the one way a clustered
geo-parquet layout is maintained after its first write (append, compact,
delete, upsert, vacuum). It is an Iceberg-lite, single-writer /
many-reader protocol, so a reader never sees a torn layout:

  * data files are immutable and live in per-commit subdirectories
    ``data-{version:08d}/`` — a file, once published, is never rewritten
  * each commit publishes ``_manifest-v{version:08d}.json`` listing the
    exact data files of that snapshot (plus layout metadata: clustering
    bounds, geometry column)
  * the manifest is written to a temp name and os.rename'd into place —
    on a POSIX filesystem the rename is atomic, so every reader sees
    either the previous snapshot or the new one, never a torn state
  * readers bind to the HIGHEST manifest version and read only its file
    list; a compact that commits underneath them does not disturb an
    already-bound DataFrame because the old files still exist
  * ``vacuum_geo_snapshot`` deletes files unreferenced by the newest
    ``keep_last`` manifests — the only destructive operation, run it
    only when no reader can still be bound to the dropped versions

Object-store caveat (documented, same stance as the reference's
DB-local R-tree): rename-as-commit requires POSIX/HDFS semantics. On
S3-style stores an atomic pointer needs conditional PUT — use a real
table format (Iceberg/Delta) as the wrapper there; the layout produced
here (Hilbert-clustered files + bbox columns) drops into either
unchanged.

Spark ignores underscore-prefixed files, and data subdirs are addressed
explicitly by path, so manifests never pollute reads.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .pruning import (
    BBOX_COLS,
    GEO_PARQUET_WRITE_OPTIONS,
    _hadoop_list_parquet,
    write_geo_parquet,
)

_MANIFEST_RE = re.compile(r"_manifest-v(\d{8})\.json$")


def _manifest_name(version: int) -> str:
    return f"_manifest-v{version:08d}.json"


def _list_manifest_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for n in os.listdir(path):
        m = _MANIFEST_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def snapshot_version(path: str) -> int | None:
    """Newest committed snapshot version (None: no snapshot layout)."""
    vs = _list_manifest_versions(path)
    return vs[-1] if vs else None


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, _manifest_name(version)), encoding="utf-8") as f:
        return json.load(f)


def _commit(path: str, version: int, manifest: dict) -> None:
    """Atomically publish a manifest: temp write + fsync + rename."""
    final = os.path.join(path, _manifest_name(version))
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)


def _data_files(spark: SparkSession, data_dir: str) -> list[str]:
    """Relative (to the layout root) paths of the parquet files just
    written into one data subdir."""
    files = _hadoop_list_parquet(spark, data_dir)
    sub = os.path.basename(data_dir.rstrip("/"))
    return [f"{sub}/{os.path.basename(f)}" for f in files]


def write_geo_snapshot(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    bounds: tuple | None = None,
    num_partitions: int | None = None,
    point_xy: tuple | None = None,
) -> int:
    """Create snapshot v1 of a clustered layout (or start over on an empty
    dir). Returns the committed version."""
    os.makedirs(path, exist_ok=True)
    if _list_manifest_versions(path):
        raise ValueError(
            f"{path}: snapshot layout already exists; use append_geo_snapshot "
            "or compact_geo_snapshot (data files are immutable)"
        )
    version = 1
    data_dir = os.path.join(path, f"data-{version:08d}")
    write_geo_parquet(
        df, data_dir, geom_col=geom_col, bounds=bounds,
        num_partitions=num_partitions, point_xy=point_xy,
    )
    from .pruning import read_layout_meta

    meta = read_layout_meta(data_dir) or {}
    _commit(
        path,
        version,
        {
            "version": version,
            "files": _data_files(df.sparkSession, data_dir),
            "bounds": meta.get("bounds") or (list(bounds) if bounds else None),
            "geom_col": geom_col,
        },
    )
    return version


def read_geo_snapshot(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Bind a DataFrame to one snapshot's exact file list. The returned
    plan keeps reading those files even if later commits (or a compact)
    land underneath — old files are immutable until vacuumed."""
    v = version if version is not None else snapshot_version(path)
    if v is None:
        raise FileNotFoundError(f"{path}: no snapshot manifest")
    man = _read_manifest(path, v)
    files = [os.path.join(path, f) for f in man["files"]]
    if not files:
        # empty snapshot: preserve schema-less behavior explicitly
        raise ValueError(f"{path} v{v}: snapshot has no data files")
    return spark.read.parquet(*files)


def append_geo_snapshot(
    df: DataFrame,
    path: str,
    num_partitions: int | None = None,
    point_xy: tuple | None = None,
) -> int:
    """Commit an appended batch as a new snapshot. The batch is clustered
    against the layout's ORIGINAL bounds (hilbert values stay comparable);
    new files land in a fresh data subdir, and the new manifest = previous
    file list + the new files. Readers never see a partial append."""
    cur = snapshot_version(path)
    if cur is None:
        raise FileNotFoundError(f"{path}: no snapshot manifest (use write_geo_snapshot)")
    man = _read_manifest(path, cur)
    bounds = tuple(man["bounds"]) if man.get("bounds") else None
    geom_col = man.get("geom_col", "geom")
    version = cur + 1
    data_dir = os.path.join(path, f"data-{version:08d}")
    write_geo_parquet(
        df, data_dir, geom_col=geom_col, bounds=bounds,
        num_partitions=num_partitions, point_xy=point_xy,
    )
    _commit(
        path,
        version,
        {**man, "version": version,
         "files": man["files"] + _data_files(df.sparkSession, data_dir)},
    )
    return version


def compact_geo_snapshot(
    spark: SparkSession,
    path: str,
    num_partitions: int | None = None,
    min_fragmentation: float = 0.0,
) -> int | None:
    """Re-cluster the current snapshot into one fresh data directory and
    commit it atomically (OPTIMIZE analog). A concurrently-binding reader
    always succeeds: it sees either the fragmented snapshot or the
    compacted one. Returns the new version, or None when
    :func:`~duckdb_spatial_spark.plans.pruning.layout_fragmentation` is
    at or below ``min_fragmentation``."""
    from .pruning import layout_fragmentation

    cur = snapshot_version(path)
    if cur is None:
        raise FileNotFoundError(f"{path}: no snapshot manifest")
    man = _read_manifest(path, cur)
    files = [os.path.join(path, f) for f in man["files"]]
    if layout_fragmentation(spark, path, files=files) <= min_fragmentation:
        return None
    df = spark.read.parquet(*files).drop(*BBOX_COLS, "hilbert")
    bounds = tuple(man["bounds"]) if man.get("bounds") else None
    version = cur + 1
    data_dir = os.path.join(path, f"data-{version:08d}")
    write_geo_parquet(
        df, data_dir, geom_col=man.get("geom_col", "geom"), bounds=bounds,
        num_partitions=num_partitions,
    )
    _commit(
        path,
        version,
        {**man, "version": version, "files": _data_files(spark, data_dir)},
    )
    return version


def vacuum_geo_snapshot(spark: SparkSession, path: str, keep_last: int = 1) -> int:
    """Delete data files no kept snapshot references: files of dropped
    manifests (older than the newest ``keep_last``), plus ORPHANS from
    crashed writes — an append/compact that died between writing its
    data subdir and publishing its manifest leaves files referenced by
    nothing. Orphan cleanup only touches data dirs at or below the
    newest COMMITTED version: a dir numbered above it may be a
    single-writer commit in flight, and under the single-writer
    protocol the writer runs vacuum, so that case means a crash we can
    still not distinguish from a concurrent self — it is skipped and
    reclaimed by the next vacuum after a later commit supersedes it.
    Destructive: run only when no reader can still be bound to the
    dropped versions. Returns the number of data files removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _list_manifest_versions(path)
    if not versions:
        return 0
    keep_v = versions[-keep_last:]
    drop_v = versions[:-keep_last]
    keep_files = set()
    for v in keep_v:
        keep_files.update(_read_manifest(path, v)["files"])
    removed = 0
    for v in drop_v:
        for f in _read_manifest(path, v)["files"]:
            if f not in keep_files:
                fp = os.path.join(path, f)
                if os.path.exists(fp):
                    os.unlink(fp)
                    removed += 1
        os.unlink(os.path.join(path, _manifest_name(v)))
    # orphans: parquet under data-<=currentVersion> that no kept manifest
    # lists (crash between data write and manifest publish)
    cur = versions[-1]
    for n in sorted(os.listdir(path)):
        d = os.path.join(path, n)
        if not (n.startswith("data-") and os.path.isdir(d)):
            continue
        try:
            dv = int(n.split("-", 1)[1])
        except ValueError:
            continue
        if dv > cur:
            continue  # possible in-flight commit — never touch
        for fp in _hadoop_list_parquet(spark, d):
            rel = f"{n}/{os.path.basename(fp)}"
            if rel not in keep_files:
                lp = os.path.join(path, rel)
                if os.path.exists(lp):
                    os.unlink(lp)
                    removed += 1
    # drop now-empty data dirs (best-effort)
    for n in os.listdir(path):
        d = os.path.join(path, n)
        if n.startswith("data-") and os.path.isdir(d) and not _hadoop_list_parquet(spark, d):
            shutil.rmtree(d, ignore_errors=True)
    return removed


def _norm_uri(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return os.path.normpath(unquote(urlparse(uri).path))


def delete_geo_snapshot(
    spark: SparkSession,
    path: str,
    predicate: str,
    num_partitions: int | None = None,
) -> int | None:
    """Row-level DELETE as a copy-on-write commit (the snapshot answer to
    the reference R-tree's WAL-maintained row deletes, ``rtree.cpp`` —
    and the same mechanism as Delta/Iceberg COW deletes):

      1. one scan finds the data files that contain matching rows —
         bbox/hilbert sidecar columns participate in the predicate, so a
         windowed delete prunes to the touched region's files via
         row-group stats before any row is read
      2. ONLY those files are rewritten (surviving rows, columns
         untouched — clustering and sidecars are preserved, no
         re-cluster needed); untouched files carry over by reference
      3. the new manifest (untouched + rewritten files) commits
         atomically; prior snapshots still time-travel to the
         pre-delete data until vacuumed

    Returns the new version, or None when nothing matched."""
    cur = snapshot_version(path)
    if cur is None:
        raise FileNotFoundError(f"{path}: no snapshot manifest")
    man = _read_manifest(path, cur)
    rel_files = man["files"]
    abs_files = [os.path.join(path, f) for f in rel_files]

    from pyspark.sql import functions as F

    df = spark.read.parquet(*abs_files)
    hit_rows = (
        df.filter(predicate)
        .select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    )
    affected = {_norm_uri(r._f) for r in hit_rows}
    if not affected:
        return None
    keep_rel = [
        rel for rel, ab in zip(rel_files, abs_files)
        if os.path.normpath(ab) not in affected
    ]
    rewrite_abs = [
        ab for ab in abs_files if os.path.normpath(ab) in affected
    ]
    version = cur + 1
    data_dir = os.path.join(path, f"data-{version:08d}")
    # NULL-predicate rows never MATCHED the delete, so they must survive
    # (Delta/Iceberg COW semantics): NOT (NULL) is NULL and would drop them.
    survivors = spark.read.parquet(*rewrite_abs).filter(
        f"NOT coalesce(({predicate}), false)"
    )
    if num_partitions:
        survivors = survivors.repartition(num_partitions)
    if "hilbert" in survivors.columns:
        survivors = survivors.sortWithinPartitions("hilbert")
    survivors.write.mode("overwrite").options(**GEO_PARQUET_WRITE_OPTIONS).parquet(data_dir)
    _commit(
        path,
        version,
        {**man, "version": version,
         "files": keep_rel + _data_files(spark, data_dir)},
    )
    return version


def upsert_geo_snapshot(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols,
    num_partitions: int | None = None,
    point_xy: tuple | None = None,
) -> int:
    """MERGE (update-else-insert) as a copy-on-write commit — the last
    piece of the reference R-tree's WAL-maintained row maintenance
    (``rtree.cpp`` insert path) the snapshot layout lacked:

      1. one broadcast semi-join of the source keys against the current
         snapshot finds the data files holding MATCHED rows (bbox/hilbert
         sidecars still prune: a spatially-local source batch touches only
         its region's files)
      2. only those files rewrite: their matched rows are REPLACED by the
         source versions, unmatched source rows are INSERTED, and the
         combined batch re-clusters against the layout's ORIGINAL bounds
         (hilbert values stay comparable across generations)
      3. untouched files carry over by reference; the manifest commits
         atomically; prior snapshots time-travel to the pre-merge data

    ``key_cols``: column name or list of names forming the match key.
    The source batch is broadcast for the key probe — it is the "small
    side" of a MERGE by construction; for giant backfills run a full
    compact instead. Source rows duplicated on the key are rejected (a
    MERGE with two updates for one key is ambiguous — Delta raises too).

    Returns the committed version."""
    from pyspark.sql import functions as F

    cur = snapshot_version(path)
    if cur is None:
        raise FileNotFoundError(f"{path}: no snapshot manifest")
    man = _read_manifest(path, cur)
    rel_files = man["files"]
    abs_files = [os.path.join(path, f) for f in rel_files]
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    geom_col = man.get("geom_col", "geom")
    bounds = tuple(man["bounds"]) if man.get("bounds") else None

    dup = source.groupBy(*keys).count().filter("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"upsert_geo_snapshot: source has duplicate keys (e.g. "
            f"{tuple(dup[0][k] for k in keys)}) — ambiguous MERGE"
        )
    skeys = source.select(*keys)
    df = spark.read.parquet(*abs_files)
    # project input_file_name BEFORE the join: Spark's PreReadCheck
    # rejects the expression once the plan holds two file sources
    hit_rows = (
        df.withColumn("_f", F.input_file_name())
        .join(F.broadcast(skeys), keys, "left_semi")
        .select("_f")
        .distinct()
        .collect()
    )
    affected = {_norm_uri(r._f) for r in hit_rows}
    keep_rel = [
        rel for rel, ab in zip(rel_files, abs_files)
        if os.path.normpath(ab) not in affected
    ]
    rewrite_abs = [ab for ab in abs_files if os.path.normpath(ab) in affected]
    version = cur + 1
    data_dir = os.path.join(path, f"data-{version:08d}")
    # sidecars (and, for point layouts, the assembled geometry) are
    # recomputed by the clustering write — deterministic, so surviving
    # rows keep identical values
    side = [c for c in (*BBOX_COLS, "hilbert") if c in df.columns]
    if point_xy is not None and geom_col in df.columns:
        side.append(geom_col)
    if rewrite_abs:
        survivors = spark.read.parquet(*rewrite_abs).join(
            F.broadcast(skeys), keys, "left_anti"
        )
        if point_xy is not None:
            # the point-ingest lane stores coordinates only as the bbox
            # sidecars (a point's bbox IS the point) — reconstruct the
            # source-shaped x/y for the re-cluster
            x_col, y_col = point_xy
            if x_col not in survivors.columns:
                survivors = survivors.withColumn(x_col, F.col(BBOX_COLS[0]))
            if y_col not in survivors.columns:
                survivors = survivors.withColumn(y_col, F.col(BBOX_COLS[1]))
        survivors = survivors.drop(*side)
        batch = survivors.unionByName(source.select(*survivors.columns))
    else:
        batch = source
    write_geo_parquet(
        batch, data_dir, geom_col=geom_col, bounds=bounds,
        num_partitions=num_partitions, point_xy=point_xy,
    )
    _commit(
        path,
        version,
        {**man, "version": version,
         "files": keep_rel + _data_files(spark, data_dir)},
    )
    return version
