"""Physical table layout (SURVEY.md §4 "Physical-layout decisions",
hard part 5): Iceberg-compatible partitioning on local parquet.

Design scale (10^12 rows): the images table is written partitioned by
``bucket(cell_id at BUCKET_LEVEL)`` and SORTED by ``cell_id`` within
files, so that (a) per-cell work prunes partitions at scan time and
(b) parquet min/max row-group stats skip within files — the stand-in
for Iceberg's bucket partition transform + sort order.  The real
Iceberg catalog path is config-gated (`format="iceberg"`) and needs
the runtime jars a cluster would ship; this sandbox has none
(SURVEY.md §0), so local tests run the parquet layout and assert the
pruning behavior that carries over 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_LEVEL = 7
N_BUCKETS = 16


def write_images_layout(
    images_geo: DataFrame, path: str, n_buckets: int = N_BUCKETS,
    fmt: str = "parquet",
) -> None:
    """Write partitioned-by-cell-bucket, sorted-by-cell layout."""
    from .ops.spatial import with_point_cell

    df = with_point_cell(images_geo, BUCKET_LEVEL, "lon", "lat", "cell_l7")
    df = df.withColumn(
        "cell_bucket", F.pmod(F.xxhash64("cell_l7"), F.lit(n_buckets)).cast("int")
    )
    (
        df.repartition("cell_bucket")
        .sortWithinPartitions("cell_l7")
        .write.mode("overwrite")
        .partitionBy("cell_bucket")
        .format(fmt)
        .save(path)
    )


def read_images_layout(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def xxhash64_long(values, seed: int = 42):
    """Numpy twin of Spark's ``xxhash64(bigint)`` (XXH64 single-long path,
    default seed 42) — lets the DRIVER compute bucket assignments without
    a Spark job.  Verified bit-equal against F.xxhash64 in tests.

    Returns signed int64, like the Spark expression."""
    import numpy as np

    v = np.asarray(values, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64((seed + _P5 + 8) & _M64)
        k1 = v * np.uint64(_P2)
        k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))  # rotl 31
        k1 = k1 * np.uint64(_P1)
        h = h ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * np.uint64(_P1) + np.uint64(_P4)
        h ^= h >> np.uint64(33)
        h = h * np.uint64(_P2)
        h ^= h >> np.uint64(29)
        h = h * np.uint64(_P3)
        h ^= h >> np.uint64(32)
    return h.astype(np.int64)


def cells_to_buckets(cells, n_buckets: int = N_BUCKETS):
    """Driver-side helper: which partitions can contain these cells —
    the pruning predicate a query pushes into the partitioned scan
    (``F.col("cell_bucket").isin(cells_to_buckets(cover_cells))``).

    Matches the write side's ``pmod(xxhash64(cell), n_buckets)``."""
    import numpy as np

    h = xxhash64_long(cells)
    return sorted({int(b) for b in np.mod(h, n_buckets)})  # np.mod = pmod


def read_images_for_cells(
    spark: SparkSession, path: str, cells, n_buckets: int = N_BUCKETS,
    fmt: str = "parquet",
) -> DataFrame:
    """Partition-pruned read of the bucketed images layout for a cell
    set (e.g. a country's compacted cover uncompacted to BUCKET_LEVEL):
    the DRIVER computes the bucket set via the xxhash64 twin — no Spark
    job — and the filter prunes partitions at scan time
    (PartitionFilters; pinned in test_plans).  The residual exact
    cell-membership test stays on the query (buckets are a superset)."""
    buckets = cells_to_buckets(cells, n_buckets)
    df = read_images_layout(spark, path, fmt)
    return df.filter(F.col("cell_bucket").isin(buckets))


# ---------------------------------------------------------------------------
# Snapshot commits + time travel (Iceberg metadata shape on local parquet;
# r04).  The real catalog path stays config-gated (module docstring) —
# this is the metadata PROTOCOL: immutable data directories + an atomic
# manifest commit per snapshot, so readers get time travel and writers
# get safe concurrent commits, without any table service.
# ---------------------------------------------------------------------------


def _manifest_dir(path: str) -> str:
    """Pure path helper — READS must not create directories as a side
    effect (r04 review: read_snapshot on a typo'd path used to mkdir
    it before raising)."""
    import os

    return os.path.join(path, "manifests")


def snapshot_history(path: str) -> list[int]:
    """Committed snapshot ids, ascending (empty for a fresh table)."""
    import os

    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _read_manifest(path: str, snap_id: int) -> dict:
    import json
    import os

    with open(os.path.join(_manifest_dir(path), f"{snap_id}.json")) as f:
        return json.load(f)


def _merge_schema(parent_json: dict | None, new_schema) -> dict:
    """Iceberg-style ADD-COLUMN schema evolution (r05): the committed
    table schema is the parent's fields (in their original order) plus
    any fields the new snapshot introduces, appended.  A name collision
    with a DIFFERENT type is a real evolution conflict and raises —
    silent type widening is how tables rot.  Returns schema JSON for
    the manifest."""
    from pyspark.sql.types import StructType

    if parent_json is None:
        return new_schema.jsonValue()
    parent = StructType.fromJson(parent_json)
    have = {f.name: f for f in parent.fields}
    out = list(parent.fields)
    for f in new_schema.fields:
        if f.name in have:
            if have[f.name].dataType != f.dataType:
                raise ValueError(
                    f"schema evolution conflict on {f.name!r}: "
                    f"{have[f.name].dataType} vs {f.dataType}"
                )
        else:
            out.append(f)
    return StructType(out).jsonValue()


# per-file Bloom filter parameters: 1024 bits as 16×64-bit words, 3
# md5-derived probes — at ~50 keys/file the per-probe FP rate is
# ~0.3%, so a point lookup opens ~1 file out of any number
_BLOOM_M = 1024
_BLOOM_K = 3


def _bloom_cells(value) -> list[int]:
    """The 3 bit positions a value sets/probes — md5 of the value's
    string form, 4 hex digits per probe (deterministic, no RNG; the
    same conv()-free idiom as the engine's other sketch hashes)."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    return [int(h[4 * j:4 * j + 4], 16) % _BLOOM_M for j in range(_BLOOM_K)]


def _bloom_build(path: str, col: str) -> list[int]:
    """Bloom bitmap over one file's distinct ``col`` values, read as a
    single-column arrow scan (column-pruned: O(rows of one column),
    never the whole file).  In a cluster write path this would be
    folded executor-side during the write like parquet's own bloom
    filters; the shim computes it at commit, same information."""
    import pyarrow.parquet as pq

    words = [0] * (_BLOOM_M // 64)
    vals = set(pq.read_table(path, columns=[col]).column(col).to_pylist())
    for v in vals:
        for cell in _bloom_cells(v):
            words[cell // 64] |= 1 << (cell % 64)
    return words


def _file_stats(data_dir: str, cols: list[str],
                bloom_cols: list[str] | None = None) -> list[dict]:
    """Per-data-file column min/max ZONE MAPS from the parquet footers
    (file-level metadata only — exactly what an Iceberg manifest's
    lower_bounds/upper_bounds carry).  Driver-side by design: the
    commit path already owns the file listing, and footer reads are
    O(files), not O(rows).  A column missing stats in any row group is
    simply not recorded for that file (⇒ the file is never pruned —
    fail-open, the only safe direction for data skipping)."""
    import os

    import pyarrow.parquet as pq

    names = []
    for root, _dirs, files in os.walk(data_dir):
        rel = os.path.relpath(root, data_dir)
        for f in files:
            if f.endswith(".parquet"):
                names.append(f if rel == "." else os.path.join(rel, f))
    out = []
    for name in sorted(names):
        # hive-layout partition values ride the manifest too: the
        # identity-partition half of Iceberg pruning (dir-name k=v
        # segments), alongside the zone-map half (footer min/max)
        parts = dict(
            seg.split("=", 1)
            for seg in name.split(os.sep)[:-1]
            if "=" in seg
        )
        md = pq.ParquetFile(os.path.join(data_dir, name)).metadata
        stats: dict = {}
        complete: dict = {}
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                nm = col.path_in_schema
                if nm not in cols:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max or isinstance(st.min, bytes):
                    complete[nm] = False
                    continue
                complete.setdefault(nm, True)
                cur = stats.get(nm)
                if cur is None:
                    stats[nm] = [st.min, st.max]
                else:
                    stats[nm] = [min(cur[0], st.min), max(cur[1], st.max)]
        entry = {
            "file": name,
            "rows": md.num_rows,
            "parts": parts,
            "stats": {k: v for k, v in stats.items() if complete.get(k)},
        }
        if bloom_cols:
            entry["bloom"] = {
                c: _bloom_build(os.path.join(data_dir, name), c)
                for c in bloom_cols
            }
        out.append(entry)
    return out


def read_snapshot_pruned(spark: SparkSession, path: str, col: str,
                         lo, hi, as_of: int | None = None):
    """ZONE-MAP data skipping: read snapshot ``as_of`` touching only
    the data files whose [min, max] for ``col`` intersects [lo, hi]
    (closed interval) — the manifest-level file pruning a real Iceberg
    reader does before the scan ever starts.  Files without committed
    stats for ``col`` are always read (fail-open).  Returns
    ``(df, files_scanned, files_total)``; the caller still applies the
    row-level residual predicate (zone maps prune FILES, not rows).
    """
    return read_snapshot_pruned_box(spark, path, {col: (lo, hi)}, as_of)


def read_snapshot_pruned_box(spark: SparkSession, path: str,
                             preds: dict, as_of: int | None = None):
    """Multi-column zone-map pruning: keep only the data files whose
    [min, max] intersects EVERY ``col → (lo, hi)`` closed interval in
    ``preds`` — the manifest-side evaluation of a conjunctive box
    predicate.  This is where CLUSTERED layout pays off: after
    ``cluster_snapshot`` orders files along a space-filling curve,
    each file's per-column zones are tight little boxes and a 2-D
    range query prunes most of the table; on a row-order layout every
    file's zones span the full domain and nothing prunes (both counts
    pinned by snapshot_zorder_cluster).  Files without committed stats
    for a predicate column are always read (fail-open).  Merge-on-read
    deletes still apply to the kept files.  Returns
    ``(df, files_scanned, files_total)``; the caller applies the
    row-level residual (zones prune FILES, not rows)."""
    def keep(e: dict) -> bool:
        stats = e.get("stats") or {}
        for col, (lo, hi) in preds.items():
            s = stats.get(col)
            if s is not None and (s[1] < lo or s[0] > hi):
                return False
        return True

    return _read_pruned(spark, path, as_of, keep, "stats_cols")


def _read_pruned(spark: SparkSession, path: str, as_of: int | None,
                 keep, hint: str):
    """The pruned snapshot read behind the zone-map, Bloom and
    partition readers: resolve ``as_of`` (default: head), keep the
    manifest's data files for which ``keep(entry)`` holds, and read
    them through ``_read_manifest_df`` — the same committed schema,
    merge-on-read deletes and renames as ``read_snapshot``.  ``hint``
    names the ``write_snapshot`` option that records the per-file
    manifest.  Returns ``(df, files_scanned, files_total)``."""
    import os

    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots at {path}")
    snap_id = hist[-1] if as_of is None else as_of
    m = _read_manifest(path, snap_id)
    files_map = m.get("files") or {}
    dir_files: dict[str, list[str]] = {}
    n_keep = 0
    total = 0
    for d in m["dirs"]:
        entries = files_map.get(d)
        if entries is None:
            raise ValueError(
                f"snapshot {snap_id} has no file manifest for {d} "
                f"(commit with write_snapshot(..., {hint}=[...]))"
            )
        for e in entries:
            total += 1
            if keep(e):
                dir_files.setdefault(d, []).append(
                    os.path.join(d, e["file"])
                )
                n_keep += 1
    df = _read_manifest_df(spark, m, dir_files=dir_files)
    return df, n_keep, total


def set_ref(path: str, name: str, snap_id: int) -> None:
    """Point branch ``name`` at a committed snapshot — ATOMICALLY
    (os.replace), which is what makes this the PUBLISH step of
    write–audit–publish: staged snapshots are invisible to ref readers
    until one rename flips the pointer.  Refs follow the Iceberg
    branching model: tiny named heads into the SHARED snapshot log —
    branches share all data and manifests, so creating one is O(1)."""
    import json
    import os
    import uuid

    if snap_id not in snapshot_history(path):
        raise ValueError(f"snapshot {snap_id} not committed at {path}")
    rdir = os.path.join(path, "refs")
    os.makedirs(rdir, exist_ok=True)
    tmp = os.path.join(rdir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": snap_id}, f)
    os.replace(tmp, os.path.join(rdir, f"{name}.json"))


def get_ref(path: str, name: str) -> int | None:
    """Resolve a branch ref to its snapshot id (None if unset)."""
    import json
    import os

    p = os.path.join(path, "refs", f"{name}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["snapshot_id"]


def drop_ref(path: str, name: str) -> None:
    """Delete a branch ref (the audit-FAIL rollback of WAP: the staged
    snapshot stays in the log for debugging — expire_snapshots reclaims
    it — but no ref reader ever saw it)."""
    import os

    p = os.path.join(path, "refs", f"{name}.json")
    if os.path.exists(p):
        os.remove(p)


def read_snapshot_point(spark: SparkSession, path: str, col: str,
                        value, as_of: int | None = None):
    """BLOOM-INDEX point lookup: open only the data files whose
    committed per-file Bloom bitmap (``write_snapshot(...,
    bloom_cols=[col])``) says MIGHT contain ``value`` — the data-
    skipping primitive for equality probes on columns where zone maps
    are useless because every file spans the full range (hash-
    scattered keys, the common case for id lookups).  A Bloom says
    "definitely not" or "maybe": pruned files provably lack the value,
    kept files may include deterministic false positives (the
    row-level residual filter removes their rows).  Files without a
    committed bloom for ``col`` are always read (fail-open, like zone
    maps).  Merge-on-read deletes still apply.  Returns
    ``(df, files_scanned, files_total)``."""
    cells = _bloom_cells(value)

    def keep(e: dict) -> bool:
        words = (e.get("bloom") or {}).get(col)
        return words is None or all(
            words[c // 64] >> (c % 64) & 1 for c in cells
        )

    return _read_pruned(spark, path, as_of, keep, "bloom_cols")


def table_check(path: str) -> str | None:
    """The CHECK constraint recorded by the newest snapshot (if any)."""
    hist = snapshot_history(path)
    if not hist:
        return None
    return _read_manifest(path, hist[-1]).get("check")


def write_snapshot(df: DataFrame, path: str, mode: str = "append",
                   stats_cols: list[str] | None = None,
                   partition_by: list[str] | None = None,
                   bloom_cols: list[str] | None = None,
                   check: str | None = None) -> int:
    """Commit ``df`` as a new snapshot of the table at ``path``.

    ``check`` declares a CHECK constraint (a boolean SQL expression —
    the Delta/Iceberg expectations pattern): the write VALIDATES every
    incoming row BEFORE any data lands and raises ``ValueError`` with
    a violation count if any row fails, so a constrained table can
    never commit bad data.  The constraint rides the manifest
    (self-describing snapshots); later appends that omit ``check``
    INHERIT the table's recorded constraint and re-validate.

    Data files land in an immutable per-snapshot directory
    (``data/snap-<uuid>``); the snapshot is COMMITTED by hard-linking a
    manifest JSON into ``manifests/<id>.json`` — link(2) fails with
    EEXIST if another writer took the id, and the loser retries against
    the newer parent (optimistic concurrency, the Iceberg commit
    protocol in miniature).  ``append`` snapshots reference the
    parent's data dirs + the new one; ``overwrite`` references only the
    new one.  Returns the committed snapshot id (1-based)."""
    import json
    import os
    import uuid

    assert mode in ("append", "overwrite")
    renames: dict = {}
    if mode == "append":
        hist0 = snapshot_history(path)
        if hist0:
            renames = _read_manifest(path, hist0[-1]).get("renames") or {}
            # incoming frames use CURRENT names; files are written in
            # DISK-name space so every snapshot's data stays uniform.
            # ONE simultaneous projection (ADVICE r05 — the chained
            # per-column form turned a temp-name swap, renames =
            # {a: b, b: a}, into a silent no-op here and duplicate
            # columns on the read side).  The full reverse mapping
            # handles the swap atomically; the duplicate-target check
            # keeps the old skip behavior for frames that (against
            # the documented contract) already carry a disk name next
            # to its current name.
            rev = {cur: disk for disk, cur in renames.items()}
            # per-column collision skip (r06 review): keep a current
            # name untouched when its disk target already exists as
            # ANOTHER column that is NOT itself being renamed away —
            # the old per-column guard's semantics.  A swap's targets
            # all belong to renamed columns, so it maps atomically.
            targets = [
                rev[c]
                if c in rev and not (rev[c] in df.columns and rev[c] not in rev)
                else c
                for c in df.columns
            ]
            if targets != list(df.columns) and (
                len(set(targets)) == len(targets)
            ):
                df = df.select(
                    *[F.col(c).alias(t) for c, t in zip(df.columns, targets)]
                )
    if check is None and mode == "append":
        check = table_check(path)  # inherit the table's constraint
    if check is not None:
        n_bad = df.filter(f"NOT ({check})").count()
        if n_bad:
            raise ValueError(
                f"CHECK constraint ({check}) violated by {n_bad} rows "
                f"— commit rejected, no data written"
            )
    data_dir = os.path.join(path, "data", f"snap-{uuid.uuid4().hex[:12]}")
    if partition_by:
        df.write.mode("error").partitionBy(*partition_by).parquet(data_dir)
    else:
        df.write.mode("error").parquet(data_dir)
    new_stats = (
        _file_stats(data_dir, stats_cols or [], bloom_cols)
        if (stats_cols or partition_by or bloom_cols) else None
    )
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)  # writes may create; reads never do
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            snap_id = (hist[-1] + 1) if hist else 1
            dirs = [data_dir]
            deletes: list = []
            pos_deletes: list = []
            schema_json = df.schema.jsonValue()
            if mode == "append" and hist:
                parent_m = _read_manifest(path, hist[-1])
                dirs = parent_m["dirs"] + dirs
                # merge-on-read tombstones ride appends: they still
                # apply to the parent dirs they scoped (sequence
                # semantics — the NEW dir is not in applies_to, so
                # appended rows may re-insert a deleted key)
                deletes = parent_m.get("deletes") or []
                pos_deletes = parent_m.get("pos_deletes") or []
                # add-column evolution: appends commit the MERGED schema
                # so every snapshot's manifest is self-describing (r05)
                schema_json = _merge_schema(
                    parent_m.get("schema"), df.schema
                )
            # zone maps ride the manifest: new dir's footer stats plus
            # every parent dir's stats carried forward (append keeps
            # old files prunable without re-reading their footers)
            files_json: dict = {}
            if mode == "append" and hist:
                files_json.update(parent_m.get("files") or {})
            if new_stats is not None:
                files_json[data_dir] = new_stats
            with open(tmp, "w") as f:
                json.dump({"snapshot_id": snap_id,
                           "parent": hist[-1] if hist else None,
                           "mode": mode, "dirs": dirs,
                           "files": files_json,
                           "deletes": deletes,
                           "pos_deletes": pos_deletes,
                           "check": check,
                           "renames": renames or None,
                           "schema": schema_json}, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id
            except FileExistsError:
                continue  # lost the race — recompute against the new head
    finally:
        if os.path.exists(tmp):  # never leave a .tmp behind (review)
            os.remove(tmp)


def read_snapshot_partitioned(spark: SparkSession, path: str, eq: dict,
                              as_of: int | None = None):
    """IDENTITY-PARTITION pruning (the other half of Iceberg data
    skipping, next to ``read_snapshot_pruned``'s zone maps): keep only
    the data files whose hive-layout partition values match every
    ``eq`` key — the manifest carries the dir-name ``k=v`` segments, so
    pruning happens before Spark plans the scan.  Values compare as
    their hive dir-name strings; files with no recorded value for a key
    are always read (fail-open).  Deletes, renames and the committed
    schema apply exactly as in ``read_snapshot``.  Returns
    ``(df, files_scanned, files_total)``.
    """

    def keep(e: dict) -> bool:
        parts = e.get("parts") or {}
        return all(parts.get(k, str(v)) == str(v) for k, v in eq.items())

    df, n_scan, total = _read_pruned(spark, path, as_of, keep,
                                     "partition_by")
    if not n_scan:
        raise ValueError(f"no files match partitions {eq} at {path}")
    return df, n_scan, total


def _read_manifest_df(spark: SparkSession, m: dict,
                      dir_files: dict[str, list[str]] | None = None
                      ) -> DataFrame:
    """Materialize a manifest as a DataFrame, then surface RENAMED
    columns under their current names (r05 wave 46): on-disk files
    keep their original column names forever — rename_column is
    metadata-only, exactly Iceberg's field-id indirection realized as
    a name mapping — so the scan runs in disk-name space (schemas,
    zone maps, delete keys all stay valid) and the rename is one
    zero-cost projection at the end."""
    df = _read_manifest_df_disk(spark, m, dir_files)
    renames = m.get("renames") or {}
    if renames:
        # ONE simultaneous projection, not chained withColumnRenamed
        # (ADVICE r05): a swap done through a temp name leaves
        # renames = {a: b, b: a}, and the sequential chain's first
        # rename creates a duplicate column the second then renames
        # twice — the table read back with two identically-named
        # columns.  A single select maps every disk name to its
        # current name atomically.
        df = df.select(
            *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
        )
    return df


def _read_manifest_df_disk(spark: SparkSession, m: dict,
                           dir_files: dict[str, list[str]] | None = None
                           ) -> DataFrame:
    """Materialize a manifest as a DataFrame: read its data dirs under
    the committed schema and apply MERGE-ON-READ equality deletes with
    Iceberg-v2 sequence semantics — a delete commit suppresses keys
    only in the data dirs that existed when it committed
    (``applies_to``), so a later append legitimately re-inserts the
    key.  Dirs sharing the same applicable delete set are read in ONE
    scan (grouping keeps the plan O(distinct delete scopes), not
    O(dirs)); with no deletes this is the single-scan fast path.
    ``dir_files`` optionally restricts each dir to an explicit file
    list (the zone-map / Bloom / partition pruning paths); the files of
    a hive-partitioned dir are read with that dir as ``basePath``, so
    Spark still derives the partition columns from the kept leaf
    files."""
    from functools import reduce

    from pyspark.sql.types import StructType

    schema = (StructType.fromJson(m["schema"])
              if m.get("schema") is not None else None)
    files_map = m.get("files") or {}

    def _scan(paths: list[str], base: str | None = None) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        if base is not None:
            r = r.option("basePath", base)
        return r.parquet(*paths)

    def _read(dirs: list[str]) -> DataFrame:
        if dir_files is None:
            return _scan(dirs)
        hive = {d for d in dirs
                if any(e.get("parts") for e in files_map.get(d, []))}
        flat = [f for d in dirs if d not in hive for f in dir_files[d]]
        scans = [_scan(flat)] if flat else []
        scans += [_scan(dir_files[d], base=d) for d in dirs if d in hive]
        return reduce(lambda a, b: a.unionByName(b), scans)

    deletes = m.get("deletes") or []
    pos_deletes = m.get("pos_deletes") or []
    dirs_all = (m["dirs"] if dir_files is None
                else [d for d in m["dirs"] if dir_files.get(d)])
    if not dirs_all:
        # everything pruned (e.g. a bloom probe for an absent value):
        # an empty relation under the committed schema, not an error
        if schema is None:
            raise ValueError("all files pruned and manifest has no schema")
        return spark.createDataFrame([], schema)
    if not deletes and not pos_deletes:
        return _read(dirs_all)
    groups: dict[tuple, list[str]] = {}
    for d in dirs_all:
        sig = tuple(
            [("e", i) for i, e in enumerate(deletes)
             if d in e["applies_to"]]
            + [("p", j) for j, e in enumerate(pos_deletes)
               if d in e["applies_to"]]
        )
        groups.setdefault(sig, []).append(d)
    parts = []
    for sig, dirs in sorted(groups.items()):
        df = _read(dirs)
        pos_idx = [j for kind, j in sig if kind == "p"]
        if pos_idx:
            # position deletes key on the PHYSICAL row address — the
            # parquet source's hidden _metadata struct supplies it
            # exactly (file_path, row_index), no content column is
            # touched; the anti-join broadcasts (tombstone files are
            # tiny by construction — that is the point of the format)
            df = df.select(
                F.col("_metadata.file_path").alias("_pd_file"),
                F.col("_metadata.row_index").alias("_pd_pos"),
                "*",
            )
            for j in pos_idx:
                e = pos_deletes[j]
                tomb = spark.read.parquet(e["dir"]).select(
                    F.col("file_path").alias("_pd_file"),
                    F.col("pos").alias("_pd_pos"),
                )
                df = df.join(F.broadcast(tomb), ["_pd_file", "_pd_pos"],
                             "left_anti")
            df = df.drop("_pd_file", "_pd_pos")
        for kind, i in sig:
            if kind != "e":
                continue
            e = deletes[i]
            ks = spark.read.parquet(e["dir"]).select(e["key"]).distinct()
            df = df.join(F.broadcast(ks), e["key"], "left_anti")
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b), parts)


def delete_from_snapshot(spark: SparkSession, path: str,
                         keys: DataFrame, key: str) -> int:
    """MERGE-ON-READ equality-delete commit (the Iceberg v2 delete-file
    protocol, next to ``merge_snapshot``'s copy-on-write MERGE): write
    a tiny parquet of deleted ``key`` values under ``deletes/`` and
    commit a manifest that records it with the data dirs it applies to
    (the dirs that exist NOW — sequence semantics; appends after this
    commit may re-insert the key and are not suppressed).  Commit cost
    is O(|keys|) regardless of table size — the trickle-delete write
    path at 100 TB, where copy-on-write would rewrite petabytes —
    and ``compact_snapshot`` later materializes + clears the
    tombstones.  Same hard-link optimistic-concurrency commit."""
    import json
    import os
    import uuid

    ddir = os.path.join(path, "deletes", f"snap-{uuid.uuid4().hex[:12]}")
    keys.select(key).distinct().coalesce(1).write.mode("error").parquet(ddir)
    mdir = _manifest_dir(path)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            if not hist:
                raise ValueError(f"no snapshots committed at {path!r}")
            snap_id = hist[-1] + 1
            parent = _read_manifest(path, hist[-1])
            man = dict(parent)
            man.update({
                "snapshot_id": snap_id,
                "parent": hist[-1],
                "mode": "delete",
                "deletes": (parent.get("deletes") or []) + [
                    {"dir": ddir, "key": key,
                     "applies_to": list(parent["dirs"])}
                ],
            })
            with open(tmp, "w") as f:
                json.dump(man, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id
            except FileExistsError:
                continue  # lost the race — recompute against the new head
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def delete_positions_where(spark: SparkSession, path: str,
                           condition: str) -> tuple[int, int]:
    """MERGE-ON-READ **position** deletes (the other Iceberg v2 delete
    flavor, next to ``delete_from_snapshot``'s equality deletes): find
    the rows matching ``condition`` in the CURRENT head's data files
    and tombstone them by PHYSICAL ADDRESS — one tiny parquet of
    (file_path, pos) pairs, where pos is the parquet row index the
    scanner reports via the hidden ``_metadata`` struct.  No data is
    rewritten and readers anti-join on the address, so the delete cost
    is O(matched rows), never O(table) — the row-level DELETE shape
    engines emit after a scan has already located the victims.
    Sequence semantics match equality deletes: applies_to pins the
    dirs that exist NOW, so later appends may re-insert equal-valued
    rows.  Returns (snapshot_id, n_positions)."""
    import json
    import os
    import uuid

    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots committed at {path!r}")
    head = _read_manifest(path, hist[-1])
    scan = spark.read.parquet(*head["dirs"]).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "*",
    )
    pos = scan.filter(condition).select("file_path", "pos")
    ddir = os.path.join(path, "deletes", f"pos-{uuid.uuid4().hex[:12]}")
    pos.coalesce(1).write.mode("error").parquet(ddir)
    n_pos = spark.read.parquet(ddir).count()
    mdir = _manifest_dir(path)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            snap_id = hist[-1] + 1
            parent = _read_manifest(path, hist[-1])
            man = dict(parent)
            man.update({
                "snapshot_id": snap_id,
                "parent": hist[-1],
                "mode": "delete",
                "pos_deletes": (parent.get("pos_deletes") or []) + [
                    {"dir": ddir, "applies_to": list(parent["dirs"])}
                ],
            })
            with open(tmp, "w") as f:
                json.dump(man, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id, int(n_pos)
            except FileExistsError:
                continue  # lost the race — recompute against the new head
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def delete_where_cow(spark: SparkSession, path: str,
                     condition: str) -> tuple[int, int, int]:
    """COPY-ON-WRITE DELETE (Iceberg/Delta ``DELETE WHERE`` in COW
    mode — the third delete flavor next to the two merge-on-read
    paths): rewrite ONLY the data directories that actually contain
    matching rows.  Survivors of the affected dirs land in one new
    immutable dir; untouched dirs carry into the new manifest verbatim
    with their zone-map stats, and no tombstone is written — reads
    after a COW delete are scan-only, zero anti-joins.  This is the
    complement of ``delete_from_snapshot``'s trade: commit cost is
    O(affected data) instead of O(|keys|), read cost drops to zero —
    right for bulk + localized deletes (a GDPR purge of one partition
    range at 100 TB rewrites just that range), wrong for trickle
    deletes (use the MOR paths).  Requires a clean head (no pending
    MOR tombstones — run ``compact_snapshot`` first), mirroring the
    rule that one commit is either COW or MOR, never both.

    Victim location is ONE planning pass over the head keyed on the
    parquet ``_metadata.file_path`` (the same physical address the
    position-delete path uses); at cluster scale this pass is itself
    prunable by the manifest's zone maps.  Returns
    ``(snapshot_id, n_dirs_rewritten, n_dirs_carried)``."""
    import json
    import os
    import uuid

    from pyspark.sql.types import StructType

    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots committed at {path!r}")
    head = _read_manifest(path, hist[-1])
    if head.get("deletes") or head.get("pos_deletes"):
        raise ValueError(
            "COW delete requires a compacted head — pending "
            "merge-on-read tombstones (run compact_snapshot first)"
        )
    schema = (StructType.fromJson(head["schema"])
              if head.get("schema") is not None else None)

    def _scan(dirs: list[str]) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(*dirs)

    hit_files = [
        row[0]
        for row in _scan(head["dirs"])
        .select(F.col("_metadata.file_path").alias("_f"), "*")
        .filter(condition)
        .select("_f")
        .distinct()
        .collect()
    ]

    def _owns(d: str, f: str) -> bool:
        base = os.path.abspath(d).rstrip("/") + "/"
        return f.removeprefix("file://").removeprefix("file:").startswith(base)

    affected = [d for d in head["dirs"]
                if any(_owns(d, f) for f in hit_files)]
    carried = [d for d in head["dirs"] if d not in affected]
    if not affected:  # nothing matched: the head already IS the result
        return hist[-1], 0, len(carried)
    new_dir = os.path.join(path, "data", f"snap-{uuid.uuid4().hex[:12]}")
    _scan(affected).filter(f"NOT ({condition})").write.mode(
        "error"
    ).parquet(new_dir)
    mdir = _manifest_dir(path)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            snap_id = hist[-1] + 1
            parent = _read_manifest(path, hist[-1])
            files_json = {
                d: s for d, s in (parent.get("files") or {}).items()
                if d in carried  # rewritten dirs' stats are stale
            }
            man = dict(parent)
            man.update({
                "snapshot_id": snap_id,
                "parent": hist[-1],
                "mode": "cowdelete",
                "dirs": carried + [new_dir],
                "files": files_json,
            })
            with open(tmp, "w") as f:
                json.dump(man, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id, len(affected), len(carried)
            except FileExistsError:
                continue  # lost the race — recompute against the new head
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _walk_parquet(d: str) -> list[str]:
    import os

    out = []
    for root, _dirs, files in os.walk(d):
        out.extend(os.path.join(root, f) for f in sorted(files)
                   if f.endswith(".parquet") and not f.startswith("."))
    return sorted(out)


def snapshot_files_df(spark: SparkSession, path: str,
                      as_of: int | None = None) -> DataFrame:
    """Iceberg ``files`` METADATA TABLE analogue: one row per live data
    file of a snapshot, with size and the parquet FOOTER row count —
    all driver-side manifest + footer reads (metadata is small by
    design; no executor scan of any data page).  This is the surface
    maintenance jobs plan against (compaction targets, small-file
    counts, row accounting)."""
    import os

    import pyarrow.parquet as pq

    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots committed at {path!r}")
    snap_id = hist[-1] if as_of is None else as_of
    m = _read_manifest(path, snap_id)
    rows = []
    for pos, d in enumerate(m["dirs"]):
        for f in _walk_parquet(d):
            rows.append((f, d, pos + 1, int(os.path.getsize(f)),
                         int(pq.ParquetFile(f).metadata.num_rows)))
    return spark.createDataFrame(
        rows,
        "file_path string, dir string, commit_pos int, "
        "size_bytes bigint, n_rows bigint",
    )


def snapshot_history_df(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg ``history``/``snapshots`` METADATA TABLE analogue: one
    row per committed snapshot (id, parent, mode, live dir and
    delete-file counts) — a driver-side manifest walk."""
    rows = []
    for sid in snapshot_history(path):
        m = _read_manifest(path, sid)
        rows.append((
            sid, m.get("parent"), m["mode"], len(m["dirs"]),
            len(m.get("deletes") or []) + len(m.get("pos_deletes") or []),
        ))
    return spark.createDataFrame(
        rows,
        "snapshot_id int, parent int, mode string, n_dirs int, "
        "n_delete_files int",
    )


def read_snapshot(spark: SparkSession, path: str,
                  as_of: int | None = None,
                  schema_as_of: int | None = None,
                  ref: str | None = None) -> DataFrame:
    """Time-travel read: the table AS OF snapshot ``as_of`` (default:
    current head).  ``ref`` reads a named branch head instead
    (``set_ref``) — mutually exclusive with ``as_of``; readers of a
    ref never see snapshots staged after the last publish.
    Reads exactly the data directories the manifest
    committed — later snapshots never touch them (immutability is what
    makes the old read reproducible).

    ``schema_as_of`` (r05): read ``as_of``'s DATA under a different
    snapshot's committed schema — Iceberg's 'old snapshot, current
    schema' read; columns added after ``as_of`` come back NULL."""
    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots committed at {path!r}")
    if ref is not None:
        if as_of is not None:
            raise ValueError("pass as_of or ref, not both")
        as_of = get_ref(path, ref)
        if as_of is None:
            raise ValueError(f"no ref {ref!r} at {path}")
    snap_id = hist[-1] if as_of is None else as_of
    if snap_id not in hist:
        raise ValueError(f"snapshot {snap_id} not in history {hist}")
    m = _read_manifest(path, snap_id)
    if schema_as_of is not None:
        if schema_as_of not in hist:
            raise ValueError(f"snapshot {schema_as_of} not in history {hist}")
        m["schema"] = _read_manifest(path, schema_as_of).get("schema")
    # the manifest's (evolution-merged) schema is applied to the scan:
    # files from pre-evolution snapshots simply lack the added columns
    # and the parquet reader fills them with NULL — no mergeSchema
    # footer sweep (which scans EVERY file's footer; at 10^6 data
    # files that is its own job), the manifest already knows.
    return _read_manifest_df(spark, m)


def merge_snapshot(spark: SparkSession, path: str, updates: DataFrame,
                   key: str) -> int:
    """MERGE INTO (upsert) on the snapshot table (r05): rows matched by
    ``key`` are replaced by their update row, unmatched update rows are
    inserted, everything else carries over — committed atomically as
    one new snapshot (copy-on-write, the Iceberg COW merge shape).

    Execution: current ⟕anti updates on the key (drops every matched
    row) ∪ updates.  The anti join is broadcast when the update batch
    is small — the common CDC case — so the rewrite is one pass over
    the current data with no fact-table shuffle; the commit inherits
    the manifest protocol's optimistic concurrency.  Schema evolution
    composes: an update batch with added columns merges schemas and the
    carried-over rows read NULL-filled under the merged schema."""
    cur = read_snapshot(spark, path)
    add_cols = [c for c in updates.columns if c not in cur.columns]
    survivors = cur.join(updates.select(key), key, "left_anti")
    for c in add_cols:
        survivors = survivors.withColumn(
            c, F.lit(None).cast(dict(updates.dtypes)[c])
        )
    merged = survivors.unionByName(updates)
    return write_snapshot(merged, path, mode="overwrite")


def rename_column(path: str, old: str, new: str) -> int:
    """METADATA-ONLY COLUMN RENAME (r05 wave 46) — the Iceberg rename
    semantic: no data file is touched (the commit carries the parent's
    dirs/files/deletes verbatim); the new manifest just extends the
    disk-name -> current-name mapping.  Readers of PRE-rename snapshots
    still see the old name (each manifest is self-describing); appends
    after the rename may use the new name — write_snapshot maps them
    back to disk-name space.  Same hard-link optimistic commit."""
    import json
    import os
    import uuid

    hist = snapshot_history(path)
    if not hist:
        raise ValueError(f"no snapshots committed at {path!r}")
    mdir = _manifest_dir(path)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            parent = _read_manifest(path, hist[-1])
            ren = dict(parent.get("renames") or {})
            disk_fields = [f["name"] for f in parent["schema"]["fields"]]
            cur_of = {d: ren.get(d, d) for d in disk_fields}
            if old not in cur_of.values():
                raise ValueError(f"no column {old!r} (have "
                                 f"{sorted(cur_of.values())})")
            if new in cur_of.values():
                raise ValueError(f"column {new!r} already exists")
            disk = next(d for d, c in cur_of.items() if c == old)
            ren[disk] = new
            snap_id = hist[-1] + 1
            m = dict(parent)
            m["snapshot_id"] = snap_id
            m["parent"] = hist[-1]
            m["mode"] = "rename"
            m["renames"] = ren
            with open(tmp, "w") as f:
                json.dump(m, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id
            except FileExistsError:
                continue
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Snapshot EXPIRY + VACUUM (r05): drop all but the newest
    ``keep_last`` manifests, then delete data directories no surviving
    manifest references (the Iceberg expire_snapshots + orphan-file
    cleanup pair).  Readers of surviving snapshots are unaffected —
    their manifests still pin every directory they need; expired as-of
    reads fail loudly ('not in history').  Returns counts for audit."""
    import os
    import shutil

    hist = snapshot_history(path)
    keep = hist[-keep_last:] if keep_last > 0 else []
    drop = [s for s in hist if s not in keep]
    live: set[str] = set()
    for s in keep:
        m = _read_manifest(path, s)
        live.update(m["dirs"])
        live.update(e["dir"] for e in m.get("deletes") or [])
        live.update(e["dir"] for e in m.get("pos_deletes") or [])
    for s in drop:
        os.remove(os.path.join(_manifest_dir(path), f"{s}.json"))
    removed_dirs = 0
    # delete-file sidecars vacuum exactly like data dirs: a tombstone
    # parquet no surviving manifest references is an orphan too
    for sub in ("data", "deletes"):
        droot = os.path.join(path, sub)
        if os.path.isdir(droot):
            for name in sorted(os.listdir(droot)):
                full = os.path.join(droot, name)
                if full not in live:
                    shutil.rmtree(full, ignore_errors=True)
                    removed_dirs += 1
    return {"expired": len(drop), "kept": len(keep),
            "orphan_dirs_removed": removed_dirs}


def rollback_snapshot(path: str, to_snap: int) -> int:
    """ROLLBACK to an earlier snapshot (Iceberg
    ``rollback_to_snapshot``): commit a NEW manifest that references
    the target snapshot's exact dirs/deletes/schema — the bad commits
    stay in history for audit (as-of reads still see them) but the
    head now serves the old content.  A metadata-only O(1) commit:
    no data moves, same hard-link optimistic concurrency."""
    import json
    import os
    import uuid

    hist = snapshot_history(path)
    if to_snap not in hist:
        raise ValueError(f"snapshot {to_snap} not in history {hist}")
    target = _read_manifest(path, to_snap)
    mdir = _manifest_dir(path)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        while True:
            hist = snapshot_history(path)
            snap_id = hist[-1] + 1
            man = dict(target)
            man.update({"snapshot_id": snap_id, "parent": hist[-1],
                        "mode": "rollback", "rolled_back_to": to_snap})
            with open(tmp, "w") as f:
                json.dump(man, f)
            try:
                os.link(tmp, os.path.join(mdir, f"{snap_id}.json"))
                return snap_id
            except FileExistsError:
                continue  # lost the race — recompute against the new head
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def count_data_files(path: str, snap_id: int) -> int:
    """Number of parquet data files referenced by a snapshot's manifest
    — the metric compaction improves (driver-side listing of the
    manifest's dirs only; never a full-table scan)."""
    import os

    m = _read_manifest(path, snap_id)
    n = 0
    for d in m["dirs"]:
        n += sum(1 for f in os.listdir(d)
                 if f.endswith(".parquet") and not f.startswith("."))
    return n


def compact_snapshot(spark: SparkSession, path: str,
                     target_partitions: int = 2) -> int:
    """OPTIMIZE / rewrite_data_files analogue: read the current
    snapshot, rewrite it as ``target_partitions`` files, and commit the
    rewrite as a NEW overwrite snapshot — content identical, file count
    collapsed, every prior snapshot still time-travel readable (the
    rewrite never touches old data dirs; expire_snapshots reclaims
    them later).  At scale the rewrite is one repartition shuffle
    sized by target file size; per-partition lineage applies as to any
    other write."""
    df = read_snapshot(spark, path)
    return write_snapshot(df.repartition(target_partitions), path,
                          mode="overwrite")


def cluster_snapshot(spark: SparkSession, path: str, bucket_expr: str,
                     stats_cols: list[str], n_buckets: int = 8) -> int:
    """OPTIMIZE ... ZORDER BY analogue: rewrite the current snapshot
    CLUSTERED along a space-filling-curve bucket (``bucket_expr`` —
    typically the top bits of a morton interleave of the clustering
    columns), one data file per occupied bucket, with fresh zone maps
    on ``stats_cols`` committed in the manifest.  Clustering is what
    makes MULTI-column zone maps selective: after the rewrite each
    file's per-column [min, max] is a tight box, so a conjunctive
    range query (``read_snapshot_pruned_box``) prunes files
    proportionally to the box volume; on the incoming row-order layout
    every file spans the full domain and nothing prunes.  The rewrite
    is ONE repartition shuffle keyed by the bucket (each bucket lands
    wholly in one task → exactly one file per bucket via the hive
    layout), and commits as a normal overwrite snapshot — prior
    snapshots stay time-travel readable; merge-on-read tombstones are
    materialized by the rewrite and cleared, like compaction."""
    df = read_snapshot(spark, path)
    b = df.withColumn("zbucket", F.expr(bucket_expr).cast("int"))
    return write_snapshot(
        b.repartition(n_buckets, "zbucket"), path, mode="overwrite",
        stats_cols=stats_cols, partition_by=["zbucket"],
    )
