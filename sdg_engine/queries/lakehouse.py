"""Lakehouse queries: the snapshot table format (storage.py) and the
file-format readers and round trips (JSONL, CSV, ORC, XML, Avro,
TFRecord, WebDataset, GeoJSON, polyline, binaryFile)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..ops.payload import map_rows
from ..skew import spread
from ._common import (
    _TS_US,
    _b12_cells,
    _fixture_images,
    _stream_base,
    _t,
)


def snapshot_time_travel(spark, sf_dir):
    """Iceberg-style snapshot commits + TIME-TRAVEL read
    (storage.write_snapshot / read_snapshot, r04): snapshot 1 =
    overwrite with the 'en' documents, snapshot 2 = append of the 'de'
    documents; reading AS OF 1 must see only the first commit even
    though the table has moved on — immutable per-snapshot data dirs +
    atomic manifest commits make the old read reproducible.  The
    DuckDB oracle states both reads relationally over `documents`."""
    import os

    from ..storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "snap_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(docs.filter(F.col("lang") == "en"), tbl, mode="overwrite")
    write_snapshot(docs.filter(F.col("lang") == "de"), tbl, mode="append")
    legs = []
    for snap in (1, 2):
        legs.append(
            read_snapshot(spark, tbl, as_of=snap).agg(
                F.lit(snap).alias("snap"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
            )
        )
    return legs[0].unionByName(legs[1])


def snapshot_schema_evolution(spark, sf_dir):
    """Iceberg-style ADD-COLUMN schema evolution (r05, VERDICT item 5):
    snapshot 1 commits the 'en' documents WITHOUT a lang column;
    snapshot 2 appends the 'de' documents WITH one.  The append's
    manifest commits the MERGED schema (storage._merge_schema), so (a)
    the head read sees snapshot-1's files under the merged schema with
    lang = NULL — no mergeSchema footer sweep, the manifest knows — and
    (b) ``schema_as_of`` replays snapshot 1's data under the evolved
    schema (Iceberg's old-snapshot-current-schema read).  The DuckDB
    oracle restates all three legs relationally over `documents`."""
    import os

    from ..storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents")
    base = _stream_base(spark, "snapevo_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(
        docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"),
        tbl, mode="overwrite",
    )
    write_snapshot(
        docs.filter(F.col("lang") == "de").select("doc_id", "n_chars", "lang"),
        tbl, mode="append",
    )

    def _leg(df, snap):
        return df.groupBy(
            F.coalesce(F.col("lang"), F.lit("<pre-evolution>")).alias("lang_key")
        ).agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
        ).select("snap", "lang_key", "n_docs", "sum_chars", "min_doc")

    head = _leg(read_snapshot(spark, tbl), 2)
    old_under_new = _leg(
        read_snapshot(spark, tbl, as_of=1, schema_as_of=2), 1
    )
    return old_under_new.unionByName(head)


def snapshot_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert on the snapshot table (r05): snapshot 1 =
    the 'en' documents; the update batch rewrites every en doc with
    doc_id % 7 == 0 (n_chars + 1000) and inserts all 'de' docs;
    storage.merge_snapshot commits the copy-on-write result as
    snapshot 2 — one broadcast anti-join pass, atomic manifest commit.
    Leg snap=1 re-reads the PRE-merge snapshot (time travel must
    survive the merge); the DuckDB oracle restates both legs
    relationally over `documents`."""
    import os

    from ..storage import merge_snapshot, read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    en = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    de = _t(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    base = _stream_base(spark, "merge_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(en.select("doc_id", "n_chars"), tbl, mode="overwrite")
    updates = (
        en.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(de.select("doc_id", "n_chars"))
    )
    assert merge_snapshot(spark, tbl, updates, key="doc_id") == 2

    def _leg(df, snap):
        return df.agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )

    return _leg(read_snapshot(spark, tbl, as_of=1), 1).unionByName(
        _leg(read_snapshot(spark, tbl), 2)
    )


def geojson_roundtrip_roads(spark, sf_dir):
    """S8 source-format breadth (r04): ROADS → GeoJSON Feature lines
    (LineString geometry, JVM `to_json`) → text sink → text source →
    `from_json` with an explicit schema → per-kind aggregate.  The
    oracle aggregates the ORIGINAL roads parquet, so any coordinate or
    property serialization bug on either leg flips the hash — doubles
    survive exactly because Jackson prints shortest-roundtrip decimals.
    GeoJSON is the interchange format the reference's country
    boundaries and OSM extracts commonly arrive in."""
    import os

    _images, roads = _fixture_images(spark)
    feat = F.to_json(F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("LineString").alias("type"),
            F.expr("transform(coords, c -> array(c.x, c.y))")
            .alias("coordinates"),
        ).alias("geometry"),
        F.struct("road_id", "kind").alias("properties"),
    ))
    base = _stream_base(spark, "geojson_")
    out = os.path.join(base, "features")
    roads.select(feat.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "type string, geometry struct<type: string, "
        "coordinates: array<array<double>>>, "
        "properties struct<road_id: bigint, kind: string>"
    )
    back = (
        spark.read.text(out)
        .select(F.from_json("value", schema).alias("f"))
        .select(
            F.col("f.properties.kind").alias("kind"),
            F.col("f.geometry.coordinates").alias("coordinates"),
        )
    )
    return back.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum(F.size("coordinates")).cast("long").alias("sum_pts"),
        F.sum(F.expr(
            "CAST(FLOOR(coordinates[0][0] * 1000) AS BIGINT)"
        )).cast("long").alias("sum_x_mils"),
    )


def _format_roundtrip(spark, sf_dir, fmt: str, last_agg):
    """Shared sink→source round-trip shape for the text formats: write
    (doc_id, lang, n_chars) with the given format, read back with an
    EXPLICIT schema (no inference pass), aggregate.  The temp tree
    lives under the session stream root (deferred cleanup at exit —
    the returned DataFrame stays lazily re-readable).  CSV legs pin nullValue to a sentinel on BOTH legs so empty
    strings survive (Spark's CSV default reads '' back as NULL — r03
    review; JSON has no such asymmetry)."""
    import os

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, f"{fmt}_")
    out = os.path.join(base, "out")
    schema = "doc_id bigint, lang string, n_chars bigint"
    if fmt == "json":
        docs.write.mode("overwrite").json(out)
        back = spark.read.schema(schema).json(out)
    else:
        docs.write.mode("overwrite").option("header", True).option(
            "nullValue", "\\N"
        ).csv(out)
        back = (
            spark.read.option("header", True).option("nullValue", "\\N")
            .schema(schema).csv(out)
        )
    res = back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        last_agg,
    )
    return res


def jsonl_roundtrip_docs(spark, sf_dir):
    """S8 source-format breadth: parquet → JSON-lines sink → JSON source
    (explicit schema) → aggregate; the oracle aggregates the original
    parquet directly, so a serialization bug on either leg flips the
    hash.  JSONL is the interchange format most training-data dumps
    arrive in."""
    return _format_roundtrip(spark, sf_dir, "json", F.min("doc_id").alias("min_doc"))


def csv_roundtrip_docs(spark, sf_dir):
    """S8 source-format breadth, CSV flavor (see _format_roundtrip for
    the empty-string-safe nullValue handling; doc text stays OUT of the
    CSV leg — free-text quoting is exactly the bug class this aggregate
    would mask, not test)."""
    return _format_roundtrip(spark, sf_dir, "csv", F.max("doc_id").alias("max_doc"))


def snapshot_compaction(spark, sf_dir):
    """Small-file COMPACTION on the snapshot shim (Iceberg
    rewrite_data_files / OPTIMIZE): five 4-file appends -> 20 data
    files -> one compaction commit -> 2 files, content IDENTICAL and
    every pre-compaction snapshot still time-travel readable.

    The oracle pins the per-lang content aggregate (any row lost or
    duplicated by the rewrite flips it) AND the exact before/after
    file counts (deterministic: explicit repartition widths).
    """
    from ..storage import (
        compact_snapshot,
        count_data_files,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "compact_")
    path = f"{base}/tbl"
    for k in range(5):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).repartition(4),
            path,
            mode="append",
        )
    n_before = count_data_files(path, 5)
    snap = compact_snapshot(spark, path, target_partitions=2)
    n_after = count_data_files(path, snap)
    # old snapshot still readable post-compaction (time travel intact)
    snap3_rows = read_snapshot(spark, path, as_of=3).count()
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .withColumn("n_files_before", F.lit(n_before).cast("int"))
        .withColumn("n_files_after", F.lit(n_after).cast("int"))
        .withColumn("snap3_rows", F.lit(snap3_rows).cast("long"))
    )


def snapshot_diff(spark, sf_dir):
    """CDC between snapshots: rows ADDED / REMOVED / UNCHANGED between
    snapshot 2 and snapshot 3 of a table that saw an append and then an
    overwrite — two anti-joins over time-travel reads (the
    changed-data feed an incremental consumer tails).

    Oracle: the same set algebra over the deterministic doc_id ranges
    the commits wrote."""
    from ..storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _stream_base(spark, "cdc_")
    path = f"{base}/tbl"
    write_snapshot(docs.filter("doc_id < 200"), path, mode="append")
    write_snapshot(
        docs.filter("doc_id >= 200 AND doc_id < 300"), path, mode="append"
    )
    # snapshot 3 OVERWRITES to the doc_id in [100, 400) slice
    write_snapshot(
        docs.filter("doc_id >= 100 AND doc_id < 400"), path, mode="overwrite"
    )
    s2 = read_snapshot(spark, path, as_of=2).select("doc_id")
    s3 = read_snapshot(spark, path, as_of=3).select("doc_id")
    added = s3.join(s2, "doc_id", "left_anti")
    removed = s2.join(s3, "doc_id", "left_anti")
    unchanged = s3.join(s2, "doc_id", "left_semi")
    return (
        added.selectExpr("'added' AS change", "doc_id")
        .unionByName(removed.selectExpr("'removed' AS change", "doc_id"))
        .unionByName(unchanged.selectExpr("'unchanged' AS change", "doc_id"))
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


def snapshot_zone_map(spark, sf_dir):
    """ZONE-MAP DATA SKIPPING on the snapshot shim (Iceberg manifest
    lower/upper bounds): ten doc_id-range appends commit per-file
    min/max footer stats into the manifest; a range read
    (doc_id ∈ [120, 180]) then opens EXACTLY the two files whose zones
    intersect — 2 of 10, pinned in the output — and applies the
    row-level residual.  This is the scan-avoidance half of the 100 TB
    story: the manifest prunes files before Spark plans the scan, so
    a selective query touches data proportional to selectivity, not
    table size.  Oracle: the same aggregate relationally + the pinned
    file counts (any pruning bug either reads a wrong file set or
    flips the aggregate).
    """
    from ..storage import read_snapshot_pruned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'zonemap_')}/tbl"
    for k in range(10):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 50) & (F.col("doc_id") < (k + 1) * 50)
            ).coalesce(1),
            path,
            mode="append",
            stats_cols=["doc_id"],
        )
    pruned, n_scan, n_tot = read_snapshot_pruned(spark, path, "doc_id", 120, 180)
    return (
        pruned.filter("doc_id BETWEEN 120 AND 180")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


def source_binaryfile_images(spark, sf_dir):
    """RAW-FILE IMAGE INGEST — Spark's `binaryFile` source, the
    object-store path an image corpus actually arrives by (a directory
    of blobs, one file per image, no table metadata).  The builder
    exports the first 200 fixture images as individual files (each
    partition writes its own files — the distributed binary-export
    sink shape), then ingests them back via binaryFile and fingerprints
    every blob (md5 over hex, folded to an exact 48-bit BIGINT — the
    conv()-free idiom).  Oracle: DuckDB fingerprints the SAME blobs
    straight from the source parquet, so a corruption anywhere in the
    export->scan round trip flips a sum.  At 100 TB this is the
    standard small-files pattern: binaryFile packs many files per task
    (maxPartitionBytes), and content never shuffles — the only
    exchange is the 6-row fmt rollup.
    """
    import os

    images, _roads = _fixture_images(spark)
    out = f"{_stream_base(spark, 'binfiles_')}/files"
    flag = os.path.join(out, "_done")
    if not os.path.exists(flag):
        os.makedirs(out, exist_ok=True)
        sel = images.filter("image_id < 'img000000000200'").select(
            "image_id", "fmt", "bytes"
        )

        def _write(rows):
            for r in rows:
                p = os.path.join(out, f"{r.image_id}.{r.fmt}")
                with open(p, "wb") as f:
                    f.write(bytes(r.bytes))

        sel.foreachPartition(_write)
        open(flag, "w").close()
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "img*")
        .load(out)
    )
    cells = _b12_cells("h", 4)
    fp = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells)
    )
    return (
        bf.select(
            F.regexp_extract("path", r"\.([a-z]+)$", 1).alias("fmt"),
            F.length("content").alias("len"),
            F.md5(F.hex("content")).alias("h"),
        )
        .selectExpr("fmt", "len", f"CAST({fp} AS BIGINT) AS fp")
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("len").alias("sum_len"),
            F.sum("fp").alias("sum_fp"),
        )
    )


def snapshot_partition_prune(spark, sf_dir):
    """IDENTITY-PARTITION data skipping (the hive-layout half of
    Iceberg pruning, next to snapshot_zone_map's footer stats): commit
    documents hash-split 2 ways and partitionBy(lang) — 5 langs × 2
    tasks = 10 hive-layout files whose k=v dir segments ride the
    manifest — then a lang='en' read opens EXACTLY the 2 matching
    files (pinned).  At 100 TB this is the first pruning tier every
    selective query hits: files touched ∝ partition selectivity,
    before any footer is opened.  The reader re-derives the partition
    column via basePath, so the residual filter and the aggregate are
    load-bearing on the round trip.
    """
    from ..storage import read_snapshot_partitioned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'partprune_')}/tbl"
    write_snapshot(
        docs.repartition(2, "doc_id"), path,
        mode="append", partition_by=["lang"],
    )
    pruned, n_scan, n_tot = read_snapshot_partitioned(
        spark, path, {"lang": "en"}
    )
    return (
        pruned.filter("lang = 'en'")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


def snapshot_mor_deletes(spark, sf_dir):
    """MERGE-ON-READ equality deletes (Iceberg v2 delete files): two
    appends build the table, then a delete commit tombstones every
    doc_id ≡ 0 (mod 7) — an O(|keys|) sidecar write, NO data rewrite
    (the trickle-delete path copy-on-write MERGE can't afford at
    100 TB).  Readers apply the tombstones as a broadcast anti-join
    scoped to the data dirs that existed at delete time (sequence
    semantics — pinned separately by a re-insert pytest).  Compaction
    then MATERIALIZES the deletes and clears them: the returned
    aggregate reads the compacted table, with the tombstone-file and
    data-file counts pinned (1 delete file before, 0 after; 2 data
    files after) and the pre-delete row count recovered via time
    travel to snapshot 2.  Any bug — tombstone not applied, applied
    twice, lost in compaction, or time travel seeing the delete —
    flips a pinned number or the aggregate.
    """
    from ..storage import (
        _read_manifest,
        compact_snapshot,
        count_data_files,
        delete_from_snapshot,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'mor_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").coalesce(1), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").coalesce(1), path,
                   mode="append")
    delete_from_snapshot(
        spark, path, docs.filter("doc_id % 7 = 0").select("doc_id"),
        "doc_id",
    )
    n_del = len(_read_manifest(path, 3)["deletes"])
    compact_snapshot(spark, path, target_partitions=2)
    n_del_after = len(_read_manifest(path, 4).get("deletes") or [])
    files_after = count_data_files(path, 4)
    before = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(before))
        .withColumn("delete_files", F.lit(n_del).cast("int"))
        .withColumn("delete_files_after_compact",
                    F.lit(n_del_after).cast("int"))
        .withColumn("data_files_after_compact",
                    F.lit(files_after).cast("int"))
    )


def snapshot_position_deletes(spark, sf_dir):
    """MERGE-ON-READ **position** deletes (Iceberg v2's other delete
    flavor, next to the equality deletes of snapshot_mor_deletes):
    after two appends, every doc_id ≡ 2 (mod 5) row is located by a
    scan and tombstoned by PHYSICAL ADDRESS — one tiny (file_path,
    pos) parquet keyed on the parquet scanner's _metadata.row_index,
    no data rewrite (the DELETE-after-scan shape; cost O(victims),
    never O(table)).  Readers broadcast-anti-join on the address,
    scoped to the dirs that existed at delete time, so a third append
    legitimately RE-INSERTS equal-valued rows (sequence semantics —
    the aggregate sees them back).  Pinned: tombstone row count
    (recovered relationally in the oracle), 1 position-delete file,
    3 data files, and the pre-delete row count via time travel."""
    from ..storage import (
        _read_manifest,
        count_data_files,
        delete_positions_where,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'posdel_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").coalesce(1), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").coalesce(1), path,
                   mode="append")
    _snap, n_pos = delete_positions_where(spark, path, "doc_id % 5 = 2")
    write_snapshot(
        docs.filter("doc_id % 5 = 2 AND doc_id < 50").coalesce(1),
        path, mode="append",
    )
    n_posfiles = len(_read_manifest(path, 4)["pos_deletes"])
    files = count_data_files(path, 4)
    before = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(before))
        .withColumn("n_tombstones", F.lit(int(n_pos)).cast("long"))
        .withColumn("pos_delete_files", F.lit(n_posfiles).cast("int"))
        .withColumn("data_files", F.lit(files).cast("int"))
    )


def snapshot_metadata_tables(spark, sf_dir):
    """Iceberg METADATA TABLES (``files`` + ``history``/``snapshots``)
    as queryable DataFrames — the surface maintenance jobs plan
    against (compaction targets, small-file counts, row accounting)
    without touching a single data page: both tables are driver-side
    manifest walks (file sizes + parquet FOOTER row counts), small by
    design at any table size.  The fixture commits two appends with
    pinned layouts (repartition 3 then 2 ⇒ exactly 3 + 2 files) and
    one equality delete; the check cross-verifies the files table's
    FOOTER row counts against relational counts over the same filters
    plus the history table's commit/delete-file accounting."""
    from ..storage import (
        delete_from_snapshot,
        snapshot_files_df,
        snapshot_history_df,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'metatbl_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").repartition(3), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").repartition(2), path,
                   mode="append")
    delete_from_snapshot(
        spark, path, docs.filter("doc_id % 11 = 0").select("doc_id"),
        "doc_id",
    )
    files = snapshot_files_df(spark, path)
    hist = snapshot_history_df(spark, path)
    h = hist.agg(
        F.count(F.lit(1)).cast("int").alias("n_commits"),
        F.max(F.when(F.col("snapshot_id") == 3, F.col("mode"))
              ).alias("head_mode"),
        F.sum("n_delete_files").cast("int").alias("sum_delete_files"),
    )
    return (
        files.groupBy("commit_pos")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
        )
        .crossJoin(F.broadcast(h))
    )


def snapshot_rollback(spark, sf_dir):
    """ROLLBACK (Iceberg rollback_to_snapshot): a bad append is undone
    by ONE metadata-only commit pointing the head back at the good
    snapshot — the bad snapshot stays in history for audit (time
    travel still reads it).  The aggregate reads the rolled-back
    head (= snapshot-1 content); the bad-append row count is
    recovered via as-of(2) and tied out relationally; commit count
    and head mode pinned."""
    from ..storage import (
        read_snapshot,
        rollback_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'rollback_')}/tbl"
    write_snapshot(docs.filter("doc_id < 300").coalesce(1), path,
                   mode="append")
    # the "bad" append: doubled rows (a botched retry)
    bad = docs.filter("doc_id >= 300").union(
        docs.filter("doc_id >= 300")
    )
    write_snapshot(bad.coalesce(1), path, mode="append")
    rollback_snapshot(path, 1)
    n_commits = len(snapshot_history(path))
    bad_vis = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_at_bad")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(bad_vis))
        .withColumn("n_commits", F.lit(n_commits).cast("int"))
        .withColumn("head_mode", F.lit("rollback"))
    )


# quantized 8×8 grid derived from doc_id (full coverage at every SF:
# doc_ids are consecutive from 0 and ≥ 64 rows exist) — shared VERBATIM
# with the DuckDB twin so the clustering key is semantics, not layout
_ZQX = "CAST(doc_id % 8 AS INT)"
_ZQY = "CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS INT)"
# top-3 bits of the 6-bit morton interleave of (qx, qy): y2 x2 y1 —
# 8 buckets of 8 curve-contiguous codes
_ZBUCKET = (
    "CAST(FLOOR(qy / 4) * 4 + FLOOR(qx / 4) * 2 "
    "+ CAST(FLOOR(qy / 2) AS BIGINT) % 2 AS INT)"
)


def snapshot_wap_publish(spark, sf_dir):
    """WRITE–AUDIT–PUBLISH branching (the Iceberg staged-commit
    pattern production pipelines gate ingestion with): readers follow
    the 'main' REF — a tiny named head into the shared snapshot log —
    so an appended snapshot is INVISIBLE until one atomic pointer flip
    publishes it.  Here: snapshot 1 publishes to main; snapshot 2
    stages the remaining docs; the audit validates the staged head
    (no NULL keys, non-empty) and only then fast-forwards main.  The
    returned aggregate reads THROUGH the ref; the pre-publish
    visibility (what ref readers saw while snapshot 2 was staged)
    rides along via a time-travel read of the old head.  The
    audit-fail path (drop_ref rollback, main untouched) is pinned by
    pytest.  Oracle: final + pre-publish aggregates relationally, and
    the published snapshot id pinned.
    """
    from ..storage import get_ref, read_snapshot, set_ref, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'wap_')}/tbl"
    s1 = write_snapshot(docs.filter("doc_id < 300").coalesce(1), path,
                        mode="append")
    set_ref(path, "main", s1)
    pre_publish = read_snapshot(spark, path, ref="main")  # plan pins s1
    s2 = write_snapshot(docs.filter("doc_id >= 300").coalesce(1), path,
                        mode="append")  # STAGED: main still at s1
    staged = read_snapshot(spark, path, as_of=s2)
    # audit: key completeness on the staged head (an eager gate by
    # design — the publish decision is control flow)
    bad = staged.filter("doc_id IS NULL").limit(1).count()
    if bad == 0 and not staged.isEmpty():
        set_ref(path, "main", s2)  # PUBLISH: one atomic pointer flip
    n_pre = pre_publish.agg(F.count(F.lit(1)).alias("n_before_publish"))
    return (
        read_snapshot(spark, path, ref="main")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(n_pre))
        .withColumn("published_snap",
                    F.lit(get_ref(path, "main")).cast("int"))
    )


_BLOOM_PROBES = (33, 137, 256, 391, 444)


def snapshot_bloom_index(spark, sf_dir):
    """PER-FILE BLOOM INDEX point lookups (the data-skipping primitive
    parquet bloom filters / Iceberg bloom metrics provide): ten
    appends sliced by doc_id mod 10 give a HASH-SCATTERED layout —
    every file's doc_id zone spans the full range, so zone maps prune
    NOTHING for an equality probe.  Each commit stores a 1024-bit,
    3-probe md5 Bloom bitmap per file in the manifest
    (``bloom_cols=["doc_id"]``); ``read_snapshot_point`` then opens
    only maybe-containing files.  Every probe here opens EXACTLY its
    one true file (1/10, zero false positives at this key set —
    deterministic, no RNG anywhere) — at 100 TB that's an id lookup
    touching one file instead of a full scan.  Oracle: the probed
    rows relationally + the pinned per-probe scan counts.
    """
    from functools import reduce

    from ..storage import read_snapshot_point, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'bloomix_')}/tbl"
    for k in range(10):
        write_snapshot(docs.filter(f"doc_id % 10 = {k}").coalesce(1),
                       path, mode="append", bloom_cols=["doc_id"])
    outs = []
    for p in _BLOOM_PROBES:
        df, n_scan, n_tot = read_snapshot_point(spark, path, "doc_id", p)
        outs.append(
            df.filter(F.col("doc_id") == p)  # row-level residual
            .select(
                "doc_id", "lang", "n_chars",
                F.lit(n_scan).cast("int").alias("files_scanned"),
                F.lit(n_tot).cast("int").alias("files_total"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def snapshot_incremental_mv(spark, sf_dir):
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE off the snapshot CDC
    log: the per-lang aggregate MV is built once over snapshot 1, then
    maintained from the COMMIT DELTAS — the append's new data dir is
    read directly as the insert delta (never a table diff), and the
    delete commit's key sidecar is resolved to full rows via one
    broadcast semi-join — then merged as MV ∪ (+inserts) ∪ (−deletes)
    with a single re-aggregation over MV-sized input.  At 100 TB the
    refresh cost is O(delta) + one keyed lookup, not a base-table
    rescan.  The oracle recomputes the aggregate from scratch over
    the final state (docs minus tombstoned keys), so any drift
    between the incremental and direct forms flips a sum; the delta
    sizes ride along as columns (computed relationally on both
    sides).
    """
    from ..storage import (
        _read_manifest,
        delete_from_snapshot,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'incmv_')}/tbl"
    write_snapshot(docs.filter("doc_id < 400").coalesce(1), path,
                   mode="append")
    mv0 = (
        read_snapshot(spark, path, as_of=1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
        .withColumn("sign", F.lit(1).cast("long"))
    )
    write_snapshot(docs.filter("doc_id >= 400").coalesce(1), path,
                   mode="append")
    delete_from_snapshot(spark, path,
                         docs.filter("doc_id % 9 = 0").select("doc_id"),
                         "doc_id")
    # insert delta: the appended commit's own data dir, read directly
    ins_dir = _read_manifest(path, 2)["dirs"][-1]
    ins = spark.read.parquet(ins_dir)
    # delete delta: tombstone keys -> full rows via broadcast semi-join
    # against the pre-delete state (the keyed lookup of the refresh)
    del_keys = spark.read.parquet(_read_manifest(path, 3)["deletes"][0]["dir"])
    dels = read_snapshot(spark, path, as_of=2).join(
        F.broadcast(del_keys), "doc_id", "semi"
    )
    delta = (
        ins.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
        .withColumn("sign", F.lit(1).cast("long"))
        .unionByName(
            dels.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .withColumn("sign", F.lit(-1).cast("long"))
        )
    )
    sizes = ins.agg(F.count(F.lit(1)).alias("d_ins")).crossJoin(
        del_keys.agg(F.count(F.lit(1)).alias("d_del"))
    )
    return (
        mv0.unionByName(delta)
        .groupBy("lang")
        .agg(
            F.sum(F.expr("sign * n_docs")).alias("n_docs"),
            F.sum(F.expr("sign * sum_chars")).alias("sum_chars"),
        )
        .filter("n_docs > 0")
        .crossJoin(F.broadcast(sizes))
    )


def snapshot_zorder_cluster(spark, sf_dir):
    """Z-ORDER CLUSTERING compaction (OPTIMIZE ... ZORDER BY) and why
    it exists: multi-column zone maps only prune when the layout
    clusters BOTH columns.  Four row-order appends (doc_id ≡ k mod 4
    slices) give every file qx spanning [k, k+4] and qy spanning the
    full domain → the 2-D box query (qx, qy ∈ [4, 7]) prunes NOTHING
    (4/4 files scanned, pinned).  ``cluster_snapshot`` rewrites along
    the morton curve's top-3 bits — one file per 8-code curve run, so
    each file's (qx, qy) zones are a tight 4×2 box — and the same box
    query opens exactly the 2 files whose boxes intersect it (x2=1 ∧
    y2=1 ⇒ buckets 6, 7), 2/8 pinned.  At 100 TB this is the
    difference between a selective 2-D query scanning the table and
    scanning ~box-volume; the rewrite itself is one bucket-keyed
    shuffle.  Oracle: the box aggregate relationally + all three
    pinned counts.
    """
    from ..storage import (
        cluster_snapshot,
        read_snapshot_pruned_box,
        write_snapshot,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .withColumn("qx", F.expr(_ZQX))
        .withColumn("qy", F.expr(_ZQY))
    )
    path = f"{_stream_base(spark, 'zorder_')}/tbl"
    for k in range(4):  # row-order layout: 4 doc_id-residue slices
        write_snapshot(docs.filter(f"doc_id % 4 = {k}").coalesce(1),
                       path, mode="append", stats_cols=["qx", "qy"])
    box = {"qx": (4, 7), "qy": (4, 7)}
    _un, scan_row, tot_row = read_snapshot_pruned_box(spark, path, box)
    cluster_snapshot(spark, path, _ZBUCKET, stats_cols=["qx", "qy"],
                     n_buckets=8)
    pruned, scan_z, tot_z = read_snapshot_pruned_box(spark, path, box)
    return (
        pruned.filter("qx BETWEEN 4 AND 7 AND qy BETWEEN 4 AND 7")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("files_scanned_roworder",
                    F.lit(f"{scan_row}/{tot_row}"))
        .withColumn("files_scanned_zorder", F.lit(f"{scan_z}/{tot_z}"))
    )


def snapshot_expire(spark, sf_dir):
    """SNAPSHOT EXPIRY + ORPHAN-FILE VACUUM (Iceberg expire_snapshots
    + remove_orphan_files — the retention half of table maintenance,
    closing the snapshot family next to compaction/rollback/WAP):
    four appends then a full OVERWRITE leave the four append dirs
    referenced only by expired history; expire(keep_last=1) drops 4
    manifests and vacuums exactly those 4 orphan dirs, the head read
    is untouched, and a time-travel read of an expired snapshot now
    fails LOUDLY (pinned via the asof_fails flag).  Metadata-only plus
    O(orphans) directory removals — no live data is ever rewritten."""
    from ..storage import (
        count_data_files,
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "expire_")
    path = f"{base}/tbl"
    for k in range(4):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).repartition(2),
            path,
            mode="append",
        )
    write_snapshot(
        docs.filter("doc_id < 500").repartition(2), path, mode="overwrite"
    )
    res = expire_snapshots(path, keep_last=1)
    asof_fails = 0
    try:
        read_snapshot(spark, path, as_of=2).count()
    except Exception:
        asof_fails = 1
    n_files = count_data_files(path, 5)
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("expired", F.lit(res["expired"]).cast("int"))
        .withColumn("kept", F.lit(res["kept"]).cast("int"))
        .withColumn(
            "orphans_removed", F.lit(res["orphan_dirs_removed"]).cast("int")
        )
        .withColumn("asof_fails", F.lit(asof_fails).cast("int"))
        .withColumn("n_files_head", F.lit(n_files).cast("int"))
    )


def orc_roundtrip_events(spark, sf_dir):
    """S8 source-format breadth, ORC flavor (the Hadoop-ecosystem
    columnar format the reference's OSM snapshots ship in): parquet ->
    ORC sink -> ORC source (explicit schema, no inference pass) ->
    aggregate; the oracle aggregates the original parquet directly, so
    a serialization bug on either leg flips the hash.  Values snap to
    integer mils BEFORE the ORC leg so the round trip compares exact
    integers, not re-parsed doubles."""
    import os

    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
    )
    base = _stream_base(spark, "orc_")
    out = os.path.join(base, "out")
    ev.write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, v_mils bigint"
    ).orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_mils").alias("sum_mils"),
        F.min("event_id").alias("min_event"),
        F.max("user_id").alias("max_user"),
    )


def snapshot_partition_evolution(spark, sf_dir):
    """PARTITION-SPEC EVOLUTION (the Iceberg semantic after identity
    pruning): commit 1 partitions by lang, commit 2 APPENDS under a
    DIFFERENT spec (partitionBy source) — per-file partition values
    ride each commit's own manifest, so a lang='en' read prunes commit
    1 to its matching files while commit 2's files (no lang value
    recorded) are kept FAIL-OPEN and filtered by the residual
    predicate.  Exactly Iceberg's behavior: old files keep their old
    spec; pruning consults the spec each file was written under.
    Scanned/total file counts are pinned; the doc_id split keeps both
    commits load-bearing in the aggregate."""
    from ..storage import read_snapshot_partitioned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = f"{_stream_base(spark, 'partevo_')}/tbl"
    write_snapshot(
        docs.filter("doc_id % 2 = 0").repartition(2, "doc_id"), path,
        mode="append", partition_by=["lang"],
    )
    write_snapshot(
        docs.filter("doc_id % 2 = 1").repartition(2, "doc_id"), path,
        mode="append", partition_by=["source"],
    )
    pruned, n_scan, n_tot = read_snapshot_partitioned(
        spark, path, {"lang": "en"}
    )
    return (
        pruned.filter("lang = 'en'")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.expr("CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END"))
            .alias("n_from_new_spec"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


def xml_roundtrip_events(spark, sf_dir):
    """S8 breadth, XML flavor: events snap to exact cents/micros,
    write through Spark 4's NATIVE XML sink (rowTag=event), read back
    with an explicit schema, aggregate per type — encoder, parser, and
    schema projection are all load-bearing on the round trip (the
    orc_roundtrip_events / jsonl/csv precedent).  The oracle aggregates
    straight off the source parquet."""
    import os

    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        f"{_TS_US} AS ts_us",
    )
    path = os.path.join(_stream_base(spark, "xml_"), "data")
    ev.write.format("xml").option("rowTag", "event").save(path)
    back = spark.read.format("xml").option("rowTag", "event").schema(
        "event_id bigint, user_id bigint, event_type string, "
        "cents bigint, ts_us bigint"
    ).load(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
        F.sum("event_id").alias("chk_ids"),
    )


def tfrecord_roundtrip_docs(spark, sf_dir):
    """TFRECORD EXPORT + re-ingest (the text→training handoff): every
    partition writes one shard of tf.train.Example records through the
    FROM-SCRATCH wire codec (hand-rolled varint protobuf + masked
    CRC32C framing — sdg_engine/tfrecord.py, public-spec only), the
    shards come back via binaryFile, and the parser VERIFIES both CRCs
    per record before decoding.  The per-language rollup fingerprints
    the round-tripped text with the shared 48-bit md5 fragment, so the
    varint writer, the framing, the CRCs, and the proto parser are all
    load-bearing against the DuckDB aggregate over the source parquet.
    At 100 TB this is the standard sharded-export shape: one file per
    task, content never shuffles."""
    import os

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = f"{_stream_base(spark, 'tfrec_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(rows):
        from pyspark import TaskContext

        from sdg_engine.tfrecord import encode_example, write_tfrecords

        recs = [
            encode_example({
                "doc_id": int(r.doc_id),
                "lang": r.lang.encode("utf-8"),
                "text": r.text.encode("utf-8"),
            })
            for r in rows
        ]
        if recs:
            pid = TaskContext.get().partitionId()
            write_tfrecords(
                os.path.join(out, f"shard-{pid:05d}.tfrecord"), recs
            )

    docs.foreachPartition(_write)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _parse(r):
        from sdg_engine.tfrecord import decode_example, read_tfrecords

        for rec in read_tfrecords(bytes(r.content)):
            ex = decode_example(rec)
            yield (ex["doc_id"][0], ex["lang"].decode("utf-8"),
                   ex["text"].decode("utf-8"))

    parsed = map_rows(bf.select("content"), _parse,
                      "doc_id bigint, lang string, text string")
    cells = _b12_cells("h", 4)
    fp = " + ".join(f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells))
    return (
        parsed.select(
            "lang", "doc_id",
            F.length("text").cast("long").alias("len"),
            F.md5("text").alias("h"),
        )
        .selectExpr("lang", "doc_id", "len", f"CAST({fp} AS BIGINT) AS fp")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("len").alias("sum_len"),
            F.sum("fp").alias("sum_fp"),
        )
    )


def webdataset_roundtrip_images(spark, sf_dir):
    """WEBDATASET EXPORT + re-ingest (the multimodal→training
    handoff): per-partition POSIX tar shards where each sample is a
    basename-grouped pair ({id}.{fmt} image bytes + {id}.txt caption —
    the WebDataset convention), written with deterministic headers
    (zeroed mtime/uid), read back via binaryFile, untarred on
    executors, and fingerprinted per format with the shared 48-bit md5
    fragments over BOTH modalities (blob hex + caption text).  DuckDB
    fingerprints the same pairs straight from the source parquet — any
    corruption in tar framing, sample grouping, or payload bytes flips
    a sum."""
    import os

    images, _roads = _fixture_images(spark)
    sel = images.filter("image_id < 'img000000000200'").select(
        "image_id", "fmt", "bytes", "caption"
    )
    out = f"{_stream_base(spark, 'wds_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(rows):
        import io
        import tarfile

        from pyspark import TaskContext

        rows = list(rows)
        if not rows:
            return
        pid = TaskContext.get().partitionId()
        with tarfile.open(
            os.path.join(out, f"shard-{pid:05d}.tar"), "w"
        ) as tar:
            for r in rows:
                for name, payload in (
                    (f"{r.image_id}.{r.fmt}", bytes(r.bytes)),
                    (f"{r.image_id}.txt", r.caption.encode("utf-8")),
                ):
                    ti = tarfile.TarInfo(name)
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.uid = ti.gid = 0
                    ti.uname = ti.gname = ""
                    tar.addfile(ti, io.BytesIO(payload))

    sel.foreachPartition(_write)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _untar(r):
        import io
        import tarfile

        samples: dict = {}
        with tarfile.open(fileobj=io.BytesIO(bytes(r.content))) as tar:
            for m in tar.getmembers():
                stem, ext = m.name.rsplit(".", 1)
                samples.setdefault(stem, {})[ext] = tar.extractfile(m).read()
        for stem, parts in samples.items():
            cap = parts.pop("txt").decode("utf-8")
            (fmt, content), = parts.items()
            yield (stem, fmt, content, cap)

    parsed = map_rows(
        bf.select("content"), _untar,
        "image_id string, fmt string, content binary, caption string",
    )
    cells_b = _b12_cells("hb", 4)
    fp_b = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells_b)
    )
    cells_c = _b12_cells("hc", 4)
    fp_c = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells_c)
    )
    return (
        parsed.select(
            "fmt",
            F.length("content").cast("long").alias("len"),
            F.md5(F.hex("content")).alias("hb"),
            F.md5("caption").alias("hc"),
        )
        .selectExpr(
            "fmt", "len",
            f"CAST({fp_b} AS BIGINT) AS fpb",
            f"CAST({fp_c} AS BIGINT) AS fpc",
        )
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("len").alias("sum_len"),
            F.sum("fpb").alias("sum_fp_bytes"),
            F.sum("fpc").alias("sum_fp_caption"),
        )
    )


def snapshot_constraint_check(spark, sf_dir):
    """LAKEHOUSE CHECK CONSTRAINTS (the Delta/Iceberg expectations
    pattern): the table declares `n_chars > 0 AND lang IS NOT NULL` at
    creation; a later append containing violating rows is REJECTED
    atomically (ValueError, zero data written, history unchanged), and
    appends that omit the constraint INHERIT it from the manifest and
    re-validate.  The query pins the protocol: commit count, rejected
    batch count, and the head read exclude the bad rows by
    construction."""
    from ..storage import read_snapshot, snapshot_history, write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = f"{_stream_base(spark, 'constraint_')}/tbl"
    check = "n_chars > 0 AND lang IS NOT NULL"
    write_snapshot(docs.filter("doc_id % 2 = 0"), path, check=check)
    rejected = 0
    bad = docs.filter("doc_id % 2 = 1").unionByName(
        spark.createDataFrame(
            [(10**12, None, 5), (10**12 + 1, "en", 0)],
            "doc_id bigint, lang string, n_chars bigint",
        )
    )
    try:  # inherits the table constraint — must refuse the whole batch
        write_snapshot(bad, path)
        raise AssertionError("constraint violation not caught")
    except ValueError:
        rejected += 1
    write_snapshot(docs.filter("doc_id % 2 = 1"), path)  # clean retry
    head = read_snapshot(spark, path)
    return (
        head.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .withColumn(
            "n_commits", F.lit(len(snapshot_history(path))).cast("int")
        )
        .withColumn("n_rejected", F.lit(rejected).cast("int"))
    )


def snapshot_cow_delete(spark, sf_dir):
    """COPY-ON-WRITE DELETE WHERE on the snapshot table (Iceberg/Delta
    COW mode — completes the delete triptych next to the equality- and
    position-tombstone MOR paths): five 100-doc appends build a 5-dir
    table, then ``DELETE WHERE 150 <= doc_id < 350`` rewrites ONLY the
    three dirs holding victims; the other two carry into the new
    manifest verbatim and the post-delete read is scan-only (zero
    anti-joins — that is the COW/MOR trade).  Pins: exactly 3 dirs
    rewritten / 2 carried, the pre-delete head still time-travel reads
    all 500 rows, and the post-delete per-lang content aggregate.
    """
    from ..storage import (
        delete_where_cow,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "cowdel_")
    path = f"{base}/tbl"
    for k in range(5):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).coalesce(2),
            path,
            mode="append",
        )
    snap, n_rw, n_keep = delete_where_cow(
        spark, path, "doc_id >= 150 AND doc_id < 350"
    )
    pre_rows = read_snapshot(spark, path, as_of=5).count()
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .withColumn("n_dirs_rewritten", F.lit(n_rw).cast("int"))
        .withColumn("n_dirs_carried", F.lit(n_keep).cast("int"))
        .withColumn("pre_delete_rows", F.lit(pre_rows).cast("long"))
    )


def avro_roundtrip_events(spark, sf_dir):
    """AVRO EXPORT + re-ingest — the classic row-oriented interchange
    format next to the TFRecord/WebDataset training sinks, through the
    FROM-SCRATCH Object Container codec (sdg_engine/avro.py, Apache
    Avro 1.11 public spec: zigzag-varint binary encoding, metadata
    map, sync-marker-framed data blocks).  Every partition writes one
    shard — EVEN partitions deflate-coded, ODD null-coded, so both
    codec paths are load-bearing; timestamps travel as
    timestamp-micros longs; blocks are 200 records so the reader walks
    a real multi-block chain.  The shards come back via binaryFile +
    mapInPandas decode and the per-type rollup (counts, exact cents,
    id extrema, distinct users) is checked against DuckDB over the
    source parquet.  At 100 TB this is the standard sharded-export
    shape: one file per task, content never shuffles."""
    import os

    schema = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "ts_us", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "props", "type": ["null", "string"]},
        ],
    }
    # r06: spread parallelizes the export (one shard per partition —
    # the single-split scan wrote ONE shard from one task; now even
    # AND odd shard ids exist, so both codec paths run, and the
    # re-ingest decodes shards in parallel), and the writer is an
    # Arrow-batched mapInPandas instead of foreachPartition (which
    # pickled every Row one at a time across the Python boundary —
    # guide §4.1).  Row content per record is identical; the oracle
    # aggregates are shard-layout-independent.
    ev = spread(_t(spark, sf_dir, "events"), "event_id").selectExpr(
        "event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        "user_id", "event_type", "value", "props",
    )
    out = f"{_stream_base(spark, 'avro_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(batches):
        from pyspark import TaskContext

        from sdg_engine.avro import write_avro

        recs = []
        for pdf in batches:
            recs.extend(
                {
                    "event_id": int(a), "ts_us": int(b), "user_id": int(c),
                    "event_type": d, "value": float(e), "props": f,
                }
                for a, b, c, d, e, f in zip(
                    pdf["event_id"], pdf["ts_us"], pdf["user_id"],
                    pdf["event_type"], pdf["value"], pdf["props"],
                )
            )
        if recs:
            pid = TaskContext.get().partitionId()
            codec = "deflate" if pid % 2 == 0 else "null"
            write_avro(os.path.join(out, f"shard-{pid:05d}.avro"),
                       schema, recs, codec=codec, block_records=200)
        yield pd.DataFrame({"n": [len(recs)]})

    ev.mapInPandas(_write, "n bigint").write.format("noop").mode(
        "overwrite"
    ).save()
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _parse(row):
        from sdg_engine.avro import read_avro

        _, recs = read_avro(bytes(row.content))
        return [(r["event_id"], r["ts_us"], r["user_id"], r["event_type"],
                 r["value"]) for r in recs]

    decoded = map_rows(
        bf.select("content"), _parse,
        "event_id bigint, ts_us bigint, user_id bigint,"
        " event_type string, value double",
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .alias("cents"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.expr("ts_us % 997")).alias("ts_chk"),
        )
        .orderBy("event_type")
    )


def polyline_roundtrip_roads(spark, sf_dir):
    """GOOGLE ENCODED POLYLINE roundtrip over the road fixture — the
    web-mapping wire format next to the MVT and GeoJSON sinks, through
    the from-scratch codec (sdg_engine/polyline.py, public algorithm
    description; the spec's own canonical test vector is pinned in
    pytest).  Encode and decode are SEPARATE Arrow passes with the
    ASCII string as the only thing crossing between them, so the
    per-kind aggregates (point counts, exact quantized coordinate
    sums, net eastward drift) are computed entirely from DECODED
    integers and checked against DuckDB quantizing the source coords
    directly.  Map-only; geometry never shuffles."""
    _images, roads = _fixture_images(spark)

    def _encode(batches):
        from sdg_engine.polyline import encode_polyline

        for pdf in batches:
            yield pd.DataFrame({
                "road_id": pdf["road_id"],
                "kind": pdf["kind"],
                "poly": [
                    encode_polyline((c["x"], c["y"]) for c in coords)
                    for coords in pdf["coords"]
                ],
            })

    encoded = roads.select("road_id", "kind", "coords").mapInPandas(
        _encode, "road_id bigint, kind string, poly string"
    )

    def _decode(r):
        from sdg_engine.polyline import decode_polyline

        pts = decode_polyline(r.poly)
        yield (r.road_id, r.kind, len(pts), sum(p[0] for p in pts),
               sum(p[1] for p in pts), pts[-1][0] - pts[0][0])

    decoded = map_rows(
        encoded, _decode,
        "road_id bigint, kind string, n_pts bigint, sum_qx bigint,"
        " sum_qy bigint, drift_qx bigint",
    )
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_roads"),
            F.sum("n_pts").alias("total_pts"),
            F.sum("sum_qx").alias("sum_qx"),
            F.sum("sum_qy").alias("sum_qy"),
            F.sum("drift_qx").alias("net_drift_qx"),
        )
        .orderBy("kind")
    )


def snapshot_rename_column(spark, sf_dir):
    """METADATA-ONLY COLUMN RENAME on the snapshot table — the Iceberg
    rename semantic after add-column evolution and time travel: two
    appends commit (doc_id, lang, n_chars), the rename to char_count
    touches ZERO data files (pinned: the new manifest carries the
    parent's dirs verbatim), a third append WRITES WITH THE NEW NAME
    (write_snapshot maps it back to disk-name space, Iceberg's
    field-id indirection as a name mapping), and the full read
    aggregates under char_count while the PRE-rename snapshot still
    time-travel-reads as n_chars."""
    from ..storage import (
        _read_manifest,
        read_snapshot,
        rename_column,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "rencol_")
    path = f"{base}/tbl"
    write_snapshot(docs.filter("doc_id < 150"), path, mode="append")
    write_snapshot(
        docs.filter("doc_id >= 150 AND doc_id < 300"), path, mode="append"
    )
    snap = rename_column(path, "n_chars", "char_count")
    # metadata-only pin: the rename commit carries the dirs verbatim
    same_dirs = int(
        _read_manifest(path, snap)["dirs"]
        == _read_manifest(path, snap - 1)["dirs"]
    )
    third = docs.filter("doc_id >= 300").withColumnRenamed(
        "n_chars", "char_count"
    )
    write_snapshot(third, path, mode="append")
    pre = read_snapshot(spark, path, as_of=2)
    old_name_visible = int("n_chars" in pre.columns)
    cur = read_snapshot(spark, path)
    new_name_visible = int(
        "char_count" in cur.columns and "n_chars" not in cur.columns
    )
    return (
        cur.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("char_count").alias("total_chars"),
        )
        .selectExpr(
            "lang", "n_docs", "total_chars",
            f"CAST({same_dirs} AS INT) AS rename_was_metadata_only",
            f"CAST({old_name_visible} AS INT) AS pre_snapshot_has_old_name",
            f"CAST({new_name_visible} AS INT) AS head_has_new_name",
        )
        .orderBy("lang")
    )


QUERIES = {
    "jsonl_roundtrip_docs": jsonl_roundtrip_docs,
    "geojson_roundtrip_roads": geojson_roundtrip_roads,
    "snapshot_time_travel": snapshot_time_travel,
    "snapshot_schema_evolution": snapshot_schema_evolution,
    "snapshot_merge_upsert": snapshot_merge_upsert,
    "csv_roundtrip_docs": csv_roundtrip_docs,
    "orc_roundtrip_events": orc_roundtrip_events,
    "snapshot_expire": snapshot_expire,
    "snapshot_mor_deletes": snapshot_mor_deletes,
    "snapshot_position_deletes": snapshot_position_deletes,
    "snapshot_metadata_tables": snapshot_metadata_tables,
    "snapshot_rollback": snapshot_rollback,
    "snapshot_bloom_index": snapshot_bloom_index,
    "snapshot_wap_publish": snapshot_wap_publish,
    "snapshot_incremental_mv": snapshot_incremental_mv,
    "snapshot_zorder_cluster": snapshot_zorder_cluster,
    "snapshot_partition_prune": snapshot_partition_prune,
    "source_binaryfile_images": source_binaryfile_images,
    "snapshot_zone_map": snapshot_zone_map,
    "snapshot_compaction": snapshot_compaction,
    "snapshot_diff": snapshot_diff,
    "snapshot_partition_evolution": snapshot_partition_evolution,
    "xml_roundtrip_events": xml_roundtrip_events,
    "tfrecord_roundtrip_docs": tfrecord_roundtrip_docs,
    "webdataset_roundtrip_images": webdataset_roundtrip_images,
    "snapshot_constraint_check": snapshot_constraint_check,
    "snapshot_cow_delete": snapshot_cow_delete,
    "snapshot_rename_column": snapshot_rename_column,
    "polyline_roundtrip_roads": polyline_roundtrip_roads,
    "avro_roundtrip_events": avro_roundtrip_events,
}
