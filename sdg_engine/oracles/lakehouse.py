"""DuckDB oracle SQL for the lakehouse queries (:mod:`sdg_engine.queries.lakehouse`)."""

from __future__ import annotations

import os

from ..queries._common import _h48
from ._common import fixture_paths

ORACLES: dict[str, str] = {}


JSONL_ROUNDTRIP_DOCS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc
FROM documents GROUP BY lang
"""

CSV_ROUNDTRIP_DOCS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
"""


# snapshot 1 = overwrite('en'); snapshot 2 = append('de') — the as-of-1
# read must equal the 'en' leg alone, the head read the union.
SNAPSHOT_TIME_TRAVEL = """
SELECT 1 AS snap, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(doc_id) AS min_doc
FROM documents WHERE lang = 'en'
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(n_chars) AS BIGINT), MIN(doc_id)
FROM documents WHERE lang IN ('en', 'de')
"""

# r05 add-column evolution: snap 1 = en docs without lang (reads back
# NULL → '<pre-evolution>' under the merged schema), snap 2 appends de
# docs with lang.  Leg snap=1 is the old-data-under-new-schema read.
SNAPSHOT_SCHEMA_EVOLUTION = """
SELECT 1 AS snap, '<pre-evolution>' AS lang_key, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(doc_id) AS min_doc
FROM documents WHERE lang = 'en'
UNION ALL
SELECT 2, '<pre-evolution>', COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id)
FROM documents WHERE lang = 'en'
UNION ALL
SELECT 2, 'de', COUNT(*), CAST(SUM(n_chars) AS BIGINT), MIN(doc_id)
FROM documents WHERE lang = 'de'
"""

# r05 MERGE upsert: snap 1 = en docs; updates bump n_chars by 1000 for
# en doc_id % 7 == 0 and insert the de docs; snap 2 = merged table.
SNAPSHOT_MERGE_UPSERT = """
SELECT 1 AS snap, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE lang = 'en'
UNION ALL
SELECT 2, COUNT(*),
       CAST(SUM(CASE WHEN lang = 'en' AND doc_id % 7 = 0
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
FROM documents WHERE lang IN ('en', 'de')
"""


# WAP: after publish, ref readers see the full table; pre-publish they
# saw only snapshot 1 (doc_id < 300); the published head is snapshot 2
SNAPSHOT_WAP_PUBLISH = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id < 300) AS n_before_publish,
       CAST(2 AS INT) AS published_snap
FROM documents GROUP BY lang
"""


SNAPSHOT_DIFF = """
SELECT 'added' AS change, COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents WHERE doc_id >= 300 AND doc_id < 400
UNION ALL
SELECT 'removed', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents WHERE doc_id < 100
UNION ALL
SELECT 'unchanged', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents WHERE doc_id >= 100 AND doc_id < 300
"""


# bloom point lookups: the probed rows + pinned per-probe scan counts
# (each probe opens exactly its one true file of 10 — zero false
# positives at this key set, deterministic md5 bloom; re-derivable
# with storage._bloom_cells over the doc_id%10 slices and pinned by
# tests/test_r5.py)
def _bloom_index_sql() -> str:
    from ..queries.lakehouse import _BLOOM_PROBES

    keys = ", ".join(str(p) for p in _BLOOM_PROBES)
    return f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(1 AS INT) AS files_scanned, CAST(10 AS INT) AS files_total
FROM documents WHERE doc_id IN ({keys})
"""


# incremental MV maintenance: the oracle IS the from-scratch
# recompute over the final state (append covered all docs; the delete
# tombstoned doc_id % 9 = 0), so incremental == direct is the check;
# delta sizes recomputed relationally
SNAPSHOT_INCREMENTAL_MV = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id >= 400) AS d_ins,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id % 9 = 0) AS d_del
FROM documents WHERE doc_id % 9 <> 0
GROUP BY lang
"""


# merge-on-read deletes: content = every doc whose key survived the
# tombstone; pinned sidecar/file counts (1 delete file -> 0 after
# compaction, 2 data files) + pre-delete count via time travel
SNAPSHOT_MOR_DELETES = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_before,
       CAST(1 AS INT) AS delete_files,
       CAST(0 AS INT) AS delete_files_after_compact,
       CAST(2 AS INT) AS data_files_after_compact
FROM documents WHERE doc_id % 7 <> 0
GROUP BY lang
"""

# z-order clustering: the 2-D box aggregate over the SAME quantized
# grid fragments, plus the pinned scan counts — row-order layout
# prunes nothing (4/4), the morton-clustered rewrite opens only the
# two buckets whose (qx, qy) boxes intersect the query (2/8)
SNAPSHOT_ZORDER_CLUSTER = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       '4/4' AS files_scanned_roworder,
       '2/8' AS files_scanned_zorder
FROM documents
WHERE CAST(doc_id % 8 AS INT) BETWEEN 4 AND 7
  AND CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS INT) BETWEEN 4 AND 7
GROUP BY lang
"""

SNAPSHOT_ZONE_MAP = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(2 AS INT) AS files_scanned, CAST(10 AS INT) AS files_total
FROM documents WHERE doc_id BETWEEN 120 AND 180
GROUP BY lang
"""


# position deletes: the tombstoned set is exactly the predicate rows
# in the first two appends (positions were located BY the predicate),
# the third append re-inserts the sub-50 portion (sequence semantics);
# tombstone count recovered relationally; file counts pinned
SNAPSHOT_POSITION_DELETES = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_before,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id % 5 = 2) AS n_tombstones,
       CAST(1 AS INT) AS pos_delete_files,
       CAST(3 AS INT) AS data_files
FROM (
  SELECT lang, n_chars FROM documents WHERE doc_id % 5 <> 2
  UNION ALL
  SELECT lang, n_chars FROM documents
  WHERE doc_id % 5 = 2 AND doc_id < 50
)
GROUP BY lang
"""

# metadata tables: footer row counts per commit vs relational counts
# over the same doc_id split; file counts pinned by the repartition
# layout (3 then 2); history accounting pinned (3 commits, delete
# head, 1 delete file)
SNAPSHOT_METADATA_TABLES = """
SELECT commit_pos, n_files, n_rows,
       CAST(3 AS INT) AS n_commits,
       'delete' AS head_mode,
       CAST(1 AS INT) AS sum_delete_files
FROM (
  SELECT CAST(1 AS INT) AS commit_pos, CAST(3 AS INT) AS n_files,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
          WHERE doc_id < 250) AS n_rows
  UNION ALL
  SELECT CAST(2 AS INT), CAST(2 AS INT),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
          WHERE doc_id >= 250)
)
"""


# rollback: the head serves snapshot-1 content; the bad doubled
# append is only visible via time travel (count recovered
# relationally); commit count + head mode pinned
SNAPSHOT_ROLLBACK = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
          SELECT doc_id FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id FROM documents WHERE doc_id >= 300
          UNION ALL
          SELECT doc_id FROM documents WHERE doc_id >= 300
       )) AS n_at_bad,
       CAST(3 AS INT) AS n_commits,
       'rollback' AS head_mode
FROM documents WHERE doc_id < 300
GROUP BY lang
"""


ORC_ROUNDTRIP_EVENTS = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_mils,
       MIN(event_id) AS min_event,
       MAX(user_id) AS max_user
FROM events GROUP BY event_type
"""


# snapshot_expire: head content relationally (the overwrite holds
# doc_id < 500) + pinned maintenance counts — 4 expired manifests, 1
# kept, exactly the 4 orphaned append dirs vacuumed, the expired as-of
# read failing loudly, and the 2-file overwrite layout.
SNAPSHOT_EXPIRE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(4 AS INT) AS expired, CAST(1 AS INT) AS kept,
       CAST(4 AS INT) AS orphans_removed, CAST(1 AS INT) AS asof_fails,
       CAST(2 AS INT) AS n_files_head
FROM documents WHERE doc_id < 500 GROUP BY lang
"""

ORACLES["snapshot_expire"] = SNAPSHOT_EXPIRE


# snapshot_partition_prune: 2 hash tasks x 5 langs = 10 hive files,
# lang='en' keeps exactly the 2 'lang=en' ones (both counts pinned)
ORACLES["snapshot_partition_prune"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id,
       CAST(2 AS INT) AS files_scanned, CAST(10 AS INT) AS files_total
FROM documents WHERE lang = 'en'
"""


# file counts pinned at sf0.01: commit1 = 2 tasks x 5 langs = 10 files
# (2 match lang=en), commit2 = 2 tasks x 10 odd-half sources = 20 files,
# all kept fail-open under the lang key they never recorded
ORACLES["snapshot_partition_evolution"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_new_spec,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       CAST(22 AS INT) AS files_scanned, CAST(30 AS INT) AS files_total
FROM documents WHERE lang = 'en'
"""


ORACLES["xml_roundtrip_events"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us,
       CAST(SUM(event_id) AS BIGINT) AS chk_ids
FROM events GROUP BY 1
"""


ORACLES["snapshot_constraint_check"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(n_chars) AS min_chars,
       CAST(2 AS INT) AS n_commits, CAST(1 AS INT) AS n_rejected
FROM documents
"""


def _tfrecord_sql() -> str:
    """Per-language twin straight off the source parquet (the engine's
    numbers come back through the TFRecord round trip)."""
    fp = _h48("h")
    return f"""
WITH f AS (
  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS len,
         md5(text) AS h
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(len) AS BIGINT) AS sum_len,
       CAST(SUM({fp}) AS BIGINT) AS sum_fp
FROM f GROUP BY 1
"""


def _webdataset_sql(img: str) -> str:
    fpb = _h48("hb")
    fpc = _h48("hc")
    return f"""
WITH f AS (
  SELECT fmt, CAST(octet_length(bytes) AS BIGINT) AS len,
         md5(hex(bytes)) AS hb, md5(caption) AS hc
  FROM read_parquet('{img}')
  WHERE image_id < 'img000000000200'
)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(len) AS BIGINT) AS sum_len,
       CAST(SUM({fpb}) AS BIGINT) AS sum_fp_bytes,
       CAST(SUM({fpc}) AS BIGINT) AS sum_fp_caption
FROM f GROUP BY 1
"""


ORACLES["tfrecord_roundtrip_docs"] = _tfrecord_sql()


# COW delete: relational content aggregate + pinned maintenance counts
# (3 of 5 dirs held victims; the pre-delete head reads all 500 rows).
ORACLES["snapshot_cow_delete"] = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(3 AS INT) AS n_dirs_rewritten,
       CAST(2 AS INT) AS n_dirs_carried,
       CAST(500 AS BIGINT) AS pre_delete_rows
FROM documents
WHERE doc_id < 500 AND NOT (doc_id >= 150 AND doc_id < 350)
GROUP BY lang
"""


ORACLES["snapshot_rename_column"] = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(1 AS INT) AS rename_was_metadata_only,
       CAST(1 AS INT) AS pre_snapshot_has_old_name,
       CAST(1 AS INT) AS head_has_new_name
FROM documents
GROUP BY lang
ORDER BY lang
"""


ORACLES["avro_roundtrip_events"] = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(epoch_us(ts) % 997) AS BIGINT) AS ts_chk
FROM events
GROUP BY event_type
ORDER BY event_type
"""


ORACLES.update({
    "snapshot_time_travel": SNAPSHOT_TIME_TRAVEL,
    "snapshot_schema_evolution": SNAPSHOT_SCHEMA_EVOLUTION,
    "snapshot_merge_upsert": SNAPSHOT_MERGE_UPSERT,
    "jsonl_roundtrip_docs": JSONL_ROUNDTRIP_DOCS,
    "csv_roundtrip_docs": CSV_ROUNDTRIP_DOCS,
    "orc_roundtrip_events": ORC_ROUNDTRIP_EVENTS,
    "snapshot_rollback": SNAPSHOT_ROLLBACK,
    "snapshot_position_deletes": SNAPSHOT_POSITION_DELETES,
    "snapshot_metadata_tables": SNAPSHOT_METADATA_TABLES,
    "snapshot_zone_map": SNAPSHOT_ZONE_MAP,
    "snapshot_mor_deletes": SNAPSHOT_MOR_DELETES,
    "snapshot_bloom_index": _bloom_index_sql(),
    "snapshot_wap_publish": SNAPSHOT_WAP_PUBLISH,
    "snapshot_incremental_mv": SNAPSHOT_INCREMENTAL_MV,
    "snapshot_zorder_cluster": SNAPSHOT_ZORDER_CLUSTER,
    "snapshot_diff": SNAPSHOT_DIFF,
    "snapshot_compaction": """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(20 AS INT) AS n_files_before, CAST(2 AS INT) AS n_files_after,
       CAST(300 AS BIGINT) AS snap3_rows
FROM documents WHERE doc_id < 500 GROUP BY lang
""",
})


def fixture_oracles() -> dict[str, str]:
    """Oracles that embed the absolute sf0.01 fixture and goldens paths.
    Built on call: building them at import would generate the fixture
    on every import."""
    fdir, roads, img, gdir = fixture_paths()
    # geojson_roundtrip_roads (r04): aggregate the ORIGINAL roads
    # parquet — the Spark side aggregates the GeoJSON round-trip.
    geojson_roads = f"""
SELECT kind, COUNT(*) AS n_roads,
       CAST(SUM(len(coords)) AS BIGINT) AS sum_pts,
       CAST(SUM(CAST(FLOOR(coords[1].x * 1000) AS BIGINT)) AS BIGINT)
         AS sum_x_mils
FROM read_parquet('{roads}') GROUP BY kind
"""
    bf_fp = _h48("h")
    binf = f"""
WITH f AS (
  SELECT fmt, CAST(octet_length(bytes) AS BIGINT) AS len,
         md5(hex(bytes)) AS h
  FROM read_parquet('{img}')
  WHERE image_id < 'img000000000200'
)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(len) AS BIGINT) AS sum_len,
       CAST(SUM({bf_fp}) AS BIGINT) AS sum_fp
FROM f GROUP BY 1
"""
    return {
        "geojson_roundtrip_roads": geojson_roads,
            "source_binaryfile_images": binf,
        "webdataset_roundtrip_images": _webdataset_sql(
            os.path.join(fdir, "images.parquet").replace("'", "''")
        ),
        "polyline_roundtrip_roads": f"""
WITH pts AS (
  SELECT r.road_id, r.kind,
         CAST(FLOOR(c.x * 100000 + 0.5) AS BIGINT) AS qx,
         CAST(FLOOR(c.y * 100000 + 0.5) AS BIGINT) AS qy
  FROM read_parquet('{roads}') r, UNNEST(r.coords) AS t(c)
),
per_road AS (
  SELECT r.road_id, r.kind,
         CAST(len(r.coords) AS BIGINT) AS n_pts,
         CAST(FLOOR(r.coords[len(r.coords)].x * 100000 + 0.5) AS BIGINT)
           - CAST(FLOOR(r.coords[1].x * 100000 + 0.5) AS BIGINT)
           AS drift_qx
  FROM read_parquet('{roads}') r
),
sums AS (
  SELECT road_id, CAST(SUM(qx) AS BIGINT) AS sum_qx,
         CAST(SUM(qy) AS BIGINT) AS sum_qy
  FROM pts GROUP BY road_id
)
SELECT p.kind,
       CAST(COUNT(*) AS BIGINT) AS n_roads,
       CAST(SUM(p.n_pts) AS BIGINT) AS total_pts,
       CAST(SUM(s.sum_qx) AS BIGINT) AS sum_qx,
       CAST(SUM(s.sum_qy) AS BIGINT) AS sum_qy,
       CAST(SUM(p.drift_qx) AS BIGINT) AS net_drift_qx
FROM per_road p JOIN sums s USING (road_id)
GROUP BY p.kind
ORDER BY p.kind
""",
    }
