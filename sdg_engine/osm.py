"""S3: OSM ORC source + way assembly (SURVEY.md §2.1 S3; the analogue
of the reference's osmesa-ORC ingest, ref≈VectorPipe `osm` package —
/root/reference is empty, locus per SURVEY's recall).

An OSM extract arrives as two relations: ``nodes(node_id, lon, lat)``
and ``ways(way_id, nds array<bigint>, tags map)``.  A usable road
table needs each way's node refs RESOLVED to coordinates in ref
order — the "way assembly" step.

Spark-first shape (no Python in the pipeline):

    ways --posexplode(nds)--> (way_id, pos, node_id)
         --join nodes------->  (way_id, pos, x, y)        [one shuffle]
         --groupBy(way_id)-->  sort_array(collect_list(struct(pos,x,y)))
         --transform-------->  coords array<struct<x,y>>

``sort_array`` on the (pos, x, y) struct restores ref order inside the
aggregation (lexicographic struct compare, pos first), so no window or
secondary sort pass is needed.  At planet scale the nodes join is the
classic skew point (mega-ways); AQE skew-split covers it, and the
``collect_list`` group is bounded by OSM's 2000-node way limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def assemble_ways(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Resolve way node-refs to ordered coords (S3 way assembly).

    nodes: (node_id bigint, x double, y double)
    ways:  (way_id bigint, nds array<bigint>, tags map<string,string>)
    Returns: (way_id, tags, n_nodes int, coords array<struct<x,y>>)
    — the shape roads fixtures use, so every downstream operator
    (road_segments, segments_with_cells, …) composes directly.
    """
    refs = ways.select(
        "way_id", "tags", F.posexplode("nds").alias("pos", "node_id")
    )
    resolved = refs.join(nodes, "node_id", "inner")
    return (
        resolved.groupBy("way_id")
        .agg(
            F.first("tags").alias("tags"),
            F.expr(
                "transform(sort_array(collect_list(struct(pos, x, y))), "
                "s -> struct(s.x AS x, s.y AS y))"
            ).alias("coords"),
        )
        .withColumn("n_nodes", F.size("coords"))
        .select("way_id", "tags", "n_nodes", "coords")
    )


def way_lengths(assembled: DataFrame) -> DataFrame:
    """Plate-carrée polyline length per assembled way (meters).

    JVM higher-order aggregate over the coords array — interpreted, but
    O(n_nodes) per row outside any join loop (CLAUDE.md gotcha 4)."""
    from . import METERS_PER_DEG

    seg_len = (
        "aggregate(sequence(1, size(coords) - 1), CAST(0 AS DOUBLE), "
        "(acc, i) -> acc + SQRT("
        "(coords[i].x - coords[i-1].x) * (coords[i].x - coords[i-1].x) + "
        "(coords[i].y - coords[i-1].y) * (coords[i].y - coords[i-1].y)))"
    )
    return assembled.withColumn(
        "length_m", F.expr(f"{seg_len} * CAST({METERS_PER_DEG} AS DOUBLE)")
    )


def write_osm_orc_fixture(spark: SparkSession, path: str, sf: float) -> None:
    """Decompose the roads fixture into a synthetic osmesa-style ORC
    extract (nodes + ways), so assembly can be verified as an exact
    round-trip against the original polylines.

    Node ids are (road_id << 16) | position — unique and deterministic.
    Written as ORC (the reference's ingest format; Spark's built-in ORC
    source needs no extra jars).
    """
    import os

    from . import fixtures as FX

    recs = FX.roads_records(sf)
    node_rows = []
    way_rows = []
    for r in recs:
        nds = []
        for i, p in enumerate(r["coords"]):
            nid = (r["road_id"] << 16) | i
            node_rows.append((nid, p["x"], p["y"]))
            nds.append(nid)
        way_rows.append((r["road_id"], nds, r["tags"]))
    nodes = spark.createDataFrame(node_rows, "node_id bigint, x double, y double")
    ways = spark.createDataFrame(
        way_rows, "way_id bigint, nds array<bigint>, tags map<string,string>"
    )
    nodes.write.mode("overwrite").orc(os.path.join(path, "nodes.orc"))
    ways.write.mode("overwrite").orc(os.path.join(path, "ways.orc"))


def read_osm_orc(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    import os

    return (
        spark.read.orc(os.path.join(path, "nodes.orc")),
        spark.read.orc(os.path.join(path, "ways.orc")),
    )


# ---------------------------------------------------------------------------
# S2 (real form, r05): OSM QA-tile source — MbTiles (SQLite) of Mapbox
# vector tiles (SURVEY.md §2.1 S2, ref≈`qatiles/OsmQaTiles.scala` — the
# reference's secondary road source).  MbTiles is the public spec:
# a SQLite db with `tiles(zoom_level, tile_column, tile_row, tile_data)`
# where tile_row is TMS (row 0 = south — flipped vs XYZ), and vector
# tile_data blobs are gzip-compressed MVT.
# ---------------------------------------------------------------------------


def write_mbtiles(tiles: DataFrame, path: str) -> int:
    """Commit a (z, tx, ty, mvt) tile DataFrame as an MbTiles file: the
    ``roads`` tileset of one ``roads`` vector layer.

    ``ty`` arrives in the engine's south-origin cell orientation, which
    IS the TMS row — stored as-is; readers addressing tiles in XYZ must
    flip (``read_qatiles`` round-trips the flip both ways, pinned in
    tests).  Blobs are gzip'd (mtime=0 ⇒ deterministic bytes, the spec
    framing for vector tilesets).

    A single SQLite file is an inherently single-writer artifact — the
    DISTRIBUTED work (tile cut + clip + MVT encode) happened upstream
    in write_road_mvt; this driver-side pass streams the finished blobs
    (≤4^z rows, orders of magnitude smaller than the source) into the
    db in one transaction, the same shape as any one-file sink.
    Returns the number of tiles written."""
    import gzip
    import os
    import sqlite3

    rows = tiles.select("z", "tx", "ty", "mvt").toLocalIterator()
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE metadata (name text, value text)")
        con.execute(
            "CREATE TABLE tiles (zoom_level integer, tile_column integer, "
            "tile_row integer, tile_data blob)"
        )
        con.execute(
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)"
        )
        meta = [("name", "roads"), ("format", "pbf"), ("version", "1"),
                ("type", "baselayer"), ("json",
                 '{"vector_layers": [{"id": "roads"}]}')]
        con.executemany("INSERT INTO metadata VALUES (?, ?)", meta)
        n = 0
        for r in rows:
            blob = gzip.compress(bytes(r.mvt), mtime=0)
            con.execute(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                (int(r.z), int(r.tx), int(r.ty), sqlite3.Binary(blob)),
            )
            n += 1
        con.commit()
        return n
    finally:
        con.close()


QATILE_FEATURE_SCHEMA = (
    "z int, tx int, ty int, xyz_y int, feat_id bigint, road_id bigint, "
    "n_vertices int, coords array<struct<x: double, y: double>>"
)


def read_qatiles(spark: SparkSession, path: str,
                 n_splits: int | None = None) -> DataFrame:
    """Distributed MbTiles → road-feature DataFrame (S2's real form).

    The driver opens the db once for ONLY min/max rowid (two index
    lookups, no tile bytes); tile decoding is distributed by rowid
    RANGE: each task opens the file read-only (SQLite is multi-reader
    safe), scans its range, gunzips, MVT-decodes (mvt.decode_tile — the
    same from-scratch decoder the round-trip tests pin), and emits one
    row per road feature with world-coordinate geometry (dequantized
    from tile-local EXTENT ints; exact double math, error bounded by
    the encoder's quantization step).

    100 TB shape: the planet QA-tiles archive is one ~50 GB SQLite file
    per snapshot; rowid-range tasks read disjoint byte ranges of the
    btree, so parallelism is bounded only by n_splits — no driver
    bottleneck, no shuffle (map-only until the caller aggregates).
    ``xyz_y`` carries the XYZ (north-origin) row alongside the engine's
    south-origin ``ty`` — the TMS flip both ways."""
    from .ops.payload import map_rows

    if n_splits is None:
        n_splits = spark.sparkContext.defaultParallelism
    ranges = _rowid_ranges(path, n_splits)
    if not ranges:
        return spark.createDataFrame([], QATILE_FEATURE_SCHEMA)
    rdf = spark.createDataFrame(ranges, "lo bigint, hi bigint").repartition(
        len(ranges), "lo"
    )

    def _scan(r):
        for *head, coords in _decode_mbtiles_rows(path, r.lo, r.hi):
            yield (*head, [{"x": x, "y": y} for x, y in coords])

    return map_rows(rdf, _scan, QATILE_FEATURE_SCHEMA)


def _rowid_ranges(path: str, n: int) -> list[tuple[int, int]]:
    """Up to ``n`` disjoint, non-empty, inclusive ``(lo, hi)`` rowid
    ranges covering an MbTiles file's ``tiles`` table, from its min and
    max rowid alone (two index lookups, no tile bytes); ``[]`` for an
    empty table."""
    import sqlite3

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute("SELECT MIN(rowid), MAX(rowid) FROM tiles").fetchone()
    finally:
        con.close()
    if lo is None:
        return []
    bounds = [lo + ((hi - lo + 1) * i) // n for i in range(n)] + [hi + 1]
    return [(bounds[i], bounds[i + 1] - 1) for i in range(n)
            if bounds[i] <= bounds[i + 1] - 1]


def _decode_mbtiles_rows(path: str, lo: int, hi: int):
    """Decode one rowid range of an MbTiles file into QATILE_FEATURE
    tuples (the shared executor-side kernel of read_qatiles and the
    ``mbtiles`` DataSource): open read-only, gunzip each blob,
    MVT-decode, dequantize to world coordinates, TMS-flip both ways."""
    import gzip
    import sqlite3

    from . import WORLD_MIN, WORLD_SIZE
    from . import mvt as MVT

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        cur = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data "
            "FROM tiles WHERE rowid BETWEEN ? AND ?",
            (int(lo), int(hi)),
        )
        for z, tx, tms_row, blob in cur:
            n = 1 << z
            size = WORLD_SIZE / n
            x0 = WORLD_MIN + tx * size
            y0 = WORLD_MIN + tms_row * size
            decoded = MVT.decode_tile(gzip.decompress(blob))
            for lyr in decoded.values():
                ext = float(lyr.get("extent", MVT.EXTENT))
                for ft in lyr["features"]:
                    pts = ft["lines"][0] if ft["lines"] else []
                    coords = [
                        (x0 + float(px) * size / ext,
                         # MVT y is screen-down within the tile
                         y0 + size - float(py) * size / ext)
                        for px, py in pts
                    ]
                    yield (
                        int(z), int(tx), int(tms_row),
                        (n - 1) - int(tms_row),
                        int(ft["id"]),
                        int(ft["tags"].get("road_id", -1)),
                        len(coords), coords,
                    )
    finally:
        con.close()


def make_mbtiles_datasource():
    """The MbTiles reader as a Spark 4 PYTHON DATA SOURCE — after
    ``spark.dataSource.register(make_mbtiles_datasource())`` the file
    reads natively: ``spark.read.format("mbtiles").option("path", p)
    .option("n_splits", "8").load()``.

    This is the DataSource-V2 surface over the same rowid-range scan
    as read_qatiles: ``partitions()`` plans one InputPartition per
    disjoint rowid range (driver touches ONLY min/max rowid), and
    ``read()`` runs per-partition on executors (SQLite is multi-reader
    safe), so Catalyst sees a first-class source — column pruning,
    per-partition parallelism, and downstream planning all apply as if
    it were parquet.  Built lazily so importing sdg_engine never
    requires the pyspark.sql.datasource module (added in Spark 4)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _RowidRange(InputPartition):
        def __init__(self, lo: int, hi: int):
            self.lo, self.hi = lo, hi

    class _MbTilesReader(DataSourceReader):
        def __init__(self, options):
            self._path = options["path"]
            self._n = int(options.get("n_splits", "8"))

        def partitions(self):
            ranges = _rowid_ranges(self._path, self._n)
            # empty table: 1 no-op split
            return [_RowidRange(lo, hi) for lo, hi in ranges or [(1, 0)]]

        def read(self, part):
            yield from _decode_mbtiles_rows(self._path, part.lo, part.hi)

    class MbTilesDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mbtiles"

        def schema(self) -> str:
            return QATILE_FEATURE_SCHEMA

        def reader(self, schema):
            return _MbTilesReader(self.options)

    return MbTilesDataSource


REL_RING_SCHEMA = (
    "relation_id int, n_members int, n_points int, closed boolean, "
    "area_mic bigint, perim_mic bigint"
)


def assemble_relation_rings(member_ways: DataFrame,
                            relations: DataFrame) -> DataFrame:
    """S3b (r04): OSM boundary/multipolygon RELATION assembly — stitch
    UNORDERED, arbitrarily-ORIENTED member ways into closed rings by
    endpoint matching (the osm2pgsql/VectorPipe step that turns admin
    relations into polygons; the reference's country boundaries come
    from exactly this shape).

    member_ways: (way_id bigint, coords array<struct<x,y>>)
    relations:   (relation_id int, way_ids array<bigint>)

    Shape: explode members → equi-join ways → one cogroup per relation
    (members per relation are bounded — admin rings are a few hundred
    ways); the stitcher is deterministic: members are oriented toward
    their smaller endpoint, the start member is picked by oriented-
    array byte order (content-deterministic, partition-order
    independent — see the module note below), then the unique member
    continuing the open end is appended repeatedly, flipping
    orientation as needed.  Emits rotation/orientation-proof
    integer invariants (micro-rounded |shoelace| area + perimeter), so
    the DuckDB oracle recomputes them from the ORIGINAL rings.
    """
    import math

    import numpy as np
    import pandas as pd

    def _stitch(key, pdf):
        ways = [
            np.array([[p["x"], p["y"]] for p in c], dtype=np.float64)
            for c in pdf["coords"]
        ]
        # deterministic start: orient every way toward its smaller
        # endpoint, pick the one with the least endpoint
        def endpoints(a):
            return (tuple(a[0]), tuple(a[-1]))

        oriented = []
        for a in ways:
            e0, e1 = endpoints(a)
            oriented.append(a if e0 <= e1 else a[::-1])
        # start tie-break on FULL oriented content, not list position
        # (r04 review: two members always share the minimal endpoint —
        # row order from the shuffle must not pick the direction)
        start_i = min(range(len(oriented)),
                      key=lambda i: oriented[i].tobytes())
        ring = oriented[start_i]
        remaining = [w for i, w in enumerate(ways) if i != start_i]
        while remaining:
            end = tuple(ring[-1])
            hits = {}
            for i, a in enumerate(remaining):
                if tuple(a[0]) == end:
                    hits.setdefault((a.tobytes(), i), a)
                if tuple(a[-1]) == end:
                    rev = a[::-1]
                    hits.setdefault((rev.tobytes(), i), rev)
            if not hits:
                raise ValueError(
                    f"relation {key[0]}: no member continues at {end} — "
                    "broken ring"
                )
            # valid admin rings have a unique continuation; shared
            # touch-points resolve by oriented content bytes (keys are
            # (bytes, index) so min() never compares ndarrays — a
            # palindromic member yields one dict entry, review r04)
            kmin = min(hits)
            nxt = hits[kmin]
            ring = np.concatenate([ring, nxt[1:]])
            remaining.pop(kmin[1])
        closed = bool((ring[0] == ring[-1]).all())
        x, y = ring[:, 0], ring[:, 1]
        area = 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        d = np.diff(ring, axis=0)
        perim = float(np.sqrt((d * d).sum(axis=1)).sum())
        return pd.DataFrame([
            (
                int(key[0]), len(ways), len(ring), closed,
                int(math.floor(abs(area) * 1e6 + 0.5)),
                int(math.floor(perim * 1e6 + 0.5)),
            )
        ], columns=["relation_id", "n_members", "n_points", "closed",
                    "area_mic", "perim_mic"])

    mem = relations.select(
        "relation_id", F.explode("way_ids").alias("way_id")
    )
    joined = mem.join(member_ways, "way_id")
    return joined.groupBy("relation_id").applyInPandas(
        _stitch, REL_RING_SCHEMA
    )


# NOTE on the stitcher's determinism rule: start/continuation picks are
# by ORIENTED-ARRAY BYTE ORDER (float64 tobytes — content-deterministic
# and partition-order independent on a given platform; byte order, not
# numeric endpoint order).  The emitted invariants are rotation/
# orientation-proof, so results do not depend on which deterministic
# pick wins.


def relation_fixture(spark: SparkSession):
    """Deterministic relation fixture from the COUNTRY rings: each ring
    cut into 3-5 member ways, members shuffled and every other one
    reversed — so assembly must genuinely match endpoints.  Returns
    (member_ways, relations) DataFrames."""
    from . import fixtures as FX

    ways_rows, rel_rows = [], []
    wid = 0
    for rid, (cc, ring) in enumerate(sorted(FX.get_country_rings().items())):
        pts = ring[:-1]  # drop the closing duplicate
        m = len(pts)
        k = 3 + rid % 3
        cuts = [(j * m) // k for j in range(k)] + [m]
        way_ids = []
        for j in range(k):
            idx = list(range(cuts[j], cuts[j + 1])) + [cuts[j + 1] % m]
            coords = pts[idx]
            if (rid + j) % 2:
                coords = coords[::-1]
            ways_rows.append(
                (wid, [{"x": float(x), "y": float(y)} for x, y in coords])
            )
            way_ids.append(wid)
            wid += 1
        order = [(j + rid) % k for j in reversed(range(k))]
        rel_rows.append((rid, [way_ids[o] for o in order]))
    member_ways = spark.createDataFrame(
        ways_rows, "way_id bigint, coords array<struct<x: double, y: double>>"
    )
    relations = spark.createDataFrame(
        rel_rows, "relation_id int, way_ids array<bigint>"
    )
    return member_ways, relations
