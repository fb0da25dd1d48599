"""S7: Mapbox-Vector-Tile sink (SURVEY.md §2.1 S7; ref≈the reference's
`qatiles` vector-tile output — /root/reference is empty, locus per
SURVEY's recall).

From-scratch MVT 2.1 encoder on the PUBLIC spec (protobuf wire format
+ zigzag command encoding), the way codecs.py built PNG from the zlib
spec — no protobuf library needed.  The Spark side cuts road segments
into tiles (C4 tile cut over the cell index), converts to tile-local
integer coords, and emits one encoded ``.mvt`` blob per tile from a
grouped Arrow batch.

Wire format essentials (protobuf):
  key = (field_number << 3) | wire_type;  wire 0 = varint, 2 = bytes
MVT message tree:
  Tile{ layers=3 }  Layer{ version=15, name=1, features=2, keys=3,
  values=4, extent=5 }  Feature{ id=1, tags=2(packed), type=3,
  geometry=4(packed) }  Value{ string=1, int=4, ... }
Geometry commands: (cmd_id | count<<3); MoveTo=1 LineTo=2 ClosePath=7;
params are zigzag deltas in tile-local coords.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import WORLD_MIN, WORLD_SIZE

EXTENT = 4096


# --- protobuf primitives ----------------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _field(num: int, wire: int) -> bytes:
    return _varint((num << 3) | wire)


def _len_field(num: int, payload: bytes) -> bytes:
    return _field(num, 2) + _varint(len(payload)) + payload


def _packed(num: int, ints: list[int]) -> bytes:
    body = b"".join(_varint(i) for i in ints)
    return _len_field(num, body)


# --- MVT encoding -----------------------------------------------------------

GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3


def encode_geometry(lines, geom_type: int = GEOM_LINESTRING) -> list[int]:
    """Command-integer stream for a multi-line/-point/-ring geometry.

    ``lines``: list of (n, 2) int arrays OR [[x, y], ...] lists in
    tile-local coords.  Cursor carries across parts (spec requirement).
    r06: the body runs on plain Python ints — numpy inputs are
    converted ONCE with .tolist() instead of per-point scalar indexing
    (the per-feature ``int(pts[k, 0])`` reads dominated tile encode at
    2-point-segment granularity); byte stream identical."""
    cmds: list[int] = []
    cx = cy = 0
    for pts in lines:
        if not isinstance(pts, list):
            pts = np.asarray(pts, dtype=np.int64).tolist()
        n = len(pts)
        if n == 0:
            continue
        px, py = int(pts[0][0]), int(pts[0][1])
        cmds.append((1 << 3) | 1)  # MoveTo ×1
        cmds += [_zigzag(px - cx), _zigzag(py - cy)]
        cx, cy = px, py
        if geom_type != GEOM_POINT and n > 1:
            body = pts[1:]
            if geom_type == GEOM_POLYGON and pts[0] == pts[-1]:
                body = pts[1:-1]  # closing edge comes from ClosePath
            cmds.append((len(body) << 3) | 2)  # LineTo ×k
            for x, y in body:
                x, y = int(x), int(y)
                cmds += [_zigzag(x - cx), _zigzag(y - cy)]
                cx, cy = x, y
            if geom_type == GEOM_POLYGON:
                cmds.append((1 << 3) | 7)  # ClosePath
    return cmds


def encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _field(7, 0) + _varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _field(4, 0) + _varint(int(v) & ((1 << 64) - 1))
    if isinstance(v, float):
        import struct

        return _field(3, 1) + struct.pack("<d", v)
    b = str(v).encode("utf-8")
    return _len_field(1, b)


def encode_layer(name: str, features: list[dict]) -> bytes:
    """features: [{id:int, type:int, lines:[(n,2) arrays], tags:{k: v}}]"""
    keys: list[str] = []
    values: list = []
    kidx: dict[str, int] = {}
    vidx: dict = {}
    body = bytearray()
    for ft in features:
        tag_ints: list[int] = []
        for k, v in (ft.get("tags") or {}).items():
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            vk = (type(v).__name__, v)
            if vk not in vidx:
                vidx[vk] = len(values)
                values.append(v)
            tag_ints += [kidx[k], vidx[vk]]
        fbody = _field(1, 0) + _varint(int(ft.get("id", 0)))
        if tag_ints:
            fbody += _packed(2, tag_ints)
        fbody += _field(3, 0) + _varint(int(ft.get("type", GEOM_LINESTRING)))
        fbody += _packed(4, encode_geometry(ft["lines"], ft.get("type", GEOM_LINESTRING)))
        body += _len_field(2, fbody)
    out = bytearray()
    out += _len_field(1, name.encode("utf-8"))
    out += bytes(body)
    for k in keys:
        out += _len_field(3, k.encode("utf-8"))
    for v in values:
        out += _len_field(4, encode_value(v))
    out += _field(5, 0) + _varint(EXTENT)
    out += _field(15, 0) + _varint(2)  # version 2
    return bytes(out)


def encode_tile(layers: dict[str, list[dict]]) -> bytes:
    return b"".join(_len_field(3, encode_layer(n, f)) for n, f in layers.items())


# --- minimal decoder (tests/round-trip only) --------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[pos]
        v |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return v, pos
        shift += 7


def _fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wire == 1:
            v = buf[pos:pos + 8]
            pos += 8
        elif wire == 5:
            v = buf[pos:pos + 4]
            pos += 4
        else:  # pragma: no cover
            raise ValueError(f"wire {wire}")
        yield num, wire, v


def decode_tile(buf: bytes) -> dict:
    """Decode layers → {name: {extent, version, features:[{id, type,
    lines, tags}] , keys, values}} — for round-trip tests."""
    out = {}
    for num, _w, payload in _fields(buf):
        if num != 3:
            continue
        layer = {"features": [], "keys": [], "values": [], "extent": EXTENT}
        feats_raw = []
        for fn, fw, fv in _fields(payload):
            if fn == 1:
                layer["name"] = fv.decode()
            elif fn == 2:
                feats_raw.append(fv)
            elif fn == 3:
                layer["keys"].append(fv.decode())
            elif fn == 4:
                for vn, vw, vv in _fields(fv):
                    if vn == 1:
                        layer["values"].append(vv.decode())
                    elif vn == 4:
                        layer["values"].append(vv)
                    elif vn == 3:
                        import struct

                        layer["values"].append(struct.unpack("<d", vv)[0])
            elif fn == 5:
                layer["extent"] = fv
            elif fn == 15:
                layer["version"] = fv
        for fv in feats_raw:
            ft = {"id": 0, "tags": {}, "type": GEOM_LINESTRING, "lines": []}
            for fn, fw, v in _fields(fv):
                if fn == 1:
                    ft["id"] = v
                elif fn == 3:
                    ft["type"] = v
                elif fn == 2:
                    ints = []
                    pos = 0
                    while pos < len(v):
                        i, pos = _read_varint(v, pos)
                        ints.append(i)
                    for ki, vi in zip(ints[::2], ints[1::2]):
                        ft["tags"][layer["keys"][ki]] = layer["values"][vi]
                elif fn == 4:
                    ints = []
                    pos = 0
                    while pos < len(v):
                        i, pos = _read_varint(v, pos)
                        ints.append(i)
                    cx = cy = 0
                    i = 0
                    cur: list[list[int]] = []
                    while i < len(ints):
                        cmd = ints[i]
                        cid, cnt = cmd & 7, cmd >> 3
                        i += 1
                        if cid == 1:  # MoveTo
                            if cur:
                                ft["lines"].append(np.array(cur))
                                cur = []
                            for _ in range(cnt):
                                cx += _unzigzag(ints[i]); cy += _unzigzag(ints[i + 1])
                                i += 2
                                cur.append([cx, cy])
                        elif cid == 2:  # LineTo
                            for _ in range(cnt):
                                cx += _unzigzag(ints[i]); cy += _unzigzag(ints[i + 1])
                                i += 2
                                cur.append([cx, cy])
                        elif cid == 7:  # ClosePath
                            cur.append(cur[0])
                    if cur:
                        ft["lines"].append(np.array(cur))
            layer["features"].append(ft)
        out[layer["name"]] = layer
    return out


# --- Spark sink: roads → per-tile MVT blobs ---------------------------------

_TILE_SCHEMA = "z int, tx int, ty int, mvt binary, n_features int"


def write_road_mvt(segs: DataFrame, out_dir: str, level: int = 6) -> DataFrame:
    """C4 tile cut + S7 sink: clip road segments to tile rects, quantize
    to tile-local EXTENT coords, encode one ``roads``-layer MVT blob per
    tile, write (z, tx, ty, mvt) parquet.  Returns the tile DataFrame.

    Execution shape: segment→tile cover (JVM cell explode) then ONE
    groupBy(tile).applyInPandas whose per-group numpy does clip +
    quantize + encode — a keyed group, so skew salting (skew.py)
    applies if a tile runs hot.
    """
    from .geom import clip_segments_to_rect, segments_intersect_rect
    from .ops.spatial import segments_with_cells

    n = 1 << level
    size = WORLD_SIZE / n
    covered = segments_with_cells(segs, level).select(
        "cell_id", F.col("cell_id_ix").alias("tx"), F.col("cell_id_iy").alias("ty"),
        "road_id", "seg_id", "ax", "ay", "bx", "by",
    )

    def _encode(key, pdf):
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        x0 = WORLD_MIN + tx * size
        y0 = WORLD_MIN + ty * size
        sax, say = pdf["ax"].to_numpy(), pdf["ay"].to_numpy()
        sbx, sby = pdf["bx"].to_numpy(), pdf["by"].to_numpy()
        # membership by the division-free SAT test (bit-reproducible in
        # the DuckDB oracle — geom.segments_intersect_rect); coordinates
        # by Liang-Barsky clip for the kept segments (render-side only,
        # clamped to the extent below)
        keep = segments_intersect_rect(
            sax, say, sbx, sby, x0, y0, x0 + size, y0 + size
        )
        feats = []
        rid = pdf["road_id"].to_numpy()
        sid = pdf["seg_id"].to_numpy()
        qx = lambda x: np.clip(np.round((x - x0) / size * EXTENT), 0, EXTENT).astype(np.int64)  # noqa: E731
        qy = lambda y: np.clip(np.round((y0 + size - y) / size * EXTENT), 0, EXTENT).astype(np.int64)  # noqa: E731 — MVT y is screen-down
        idx = np.flatnonzero(keep)
        order = np.lexsort((sid[idx], rid[idx]))  # deterministic bytes
        sel = idx[order]
        # Liang-Barsky only over the KEPT subset (r03 review: the full
        # clip ran over every segment).  Where LB disagrees with the
        # SAT membership on a float-boundary graze (t0 > t1 → inverted
        # parameters), fall back to the RAW endpoints — qx/qy clamp
        # them into the extent, which is the right rendering for a
        # segment that only touches the tile edge.
        lbk, cax, cay, cbx, cby = clip_segments_to_rect(
            sax[sel], say[sel], sbx[sel], sby[sel],
            x0, y0, x0 + size, y0 + size,
        )
        bad = ~lbk
        cax = np.where(bad, sax[sel], cax)
        cay = np.where(bad, say[sel], cay)
        cbx = np.where(bad, sbx[sel], cbx)
        cby = np.where(bad, sby[sel], cby)
        # r06: quantize the WHOLE kept set in four vector ops and hand
        # plain-int lists to the encoder — the old loop built two tiny
        # numpy arrays + ran qx/qy per feature (~8 numpy dispatches per
        # 2-point segment, the tile-encode hot spot).  Same clip/round/
        # clamp arithmetic on the same floats ⇒ byte-identical tiles.
        qax_l = qx(cax).tolist()
        qay_l = qy(cay).tolist()
        qbx_l = qx(cbx).tolist()
        qby_l = qy(cby).tolist()
        rid_l = rid[sel].tolist()
        sid_l = sid[sel].tolist()
        for k in range(len(sel)):
            feats.append({
                # disjoint bit ranges: unique per (road, segment) for any
                # segment count (the old rid*100000+sid collided for roads
                # with >= 100k segments — MVT ids must be layer-unique)
                "id": (rid_l[k] << 32) | sid_l[k],
                "type": GEOM_LINESTRING,
                "lines": [[[qax_l[k], qay_l[k]], [qbx_l[k], qby_l[k]]]],
                "tags": {"road_id": rid_l[k]},
            })
        blob = encode_tile({"roads": feats})
        return pd.DataFrame(
            [(level, tx, ty, blob, len(feats))],
            columns=["z", "tx", "ty", "mvt", "n_features"],
        )

    tiles = covered.groupBy("cell_id").applyInPandas(_encode, _TILE_SCHEMA)
    tiles.write.mode("overwrite").parquet(out_dir)
    # return the READ-BACK, not the lazy plan (r03 review: returning
    # `tiles` made every consumer re-run the whole cover + shuffle +
    # per-tile Python encode a second time)
    return tiles.sparkSession.read.schema(_TILE_SCHEMA).parquet(out_dir)


def write_road_mvt_pyramid(
    segs: DataFrame, out_dir: str, z_min: int = 3, z_max: int = 5,
) -> DataFrame:
    """S7b (r05): MULTI-ZOOM vector-tile pyramid — the reference's
    visualization output shape (one tileset per zoom z_min..z_max,
    VERDICT r04 item 2; SURVEY §2.1 S7).

    Each zoom is its own cover + clip + encode pass over the same
    persisted segment table — deliberately separate write ACTIONS, not
    one unioned plan (CLAUDE.md gotcha 3: a union of branches re-plans
    and recomputes the upstream DAG per branch; separate writes over a
    DISK_ONLY-persisted input pay the upstream scan once).  Tile count
    grows 4× per zoom while work per tile shrinks — total bytes stay
    ~O(segments · zooms), and every pass is the same keyed group as
    the single-zoom sink, so skew salting carries over.

    Returns the read-back union of all zooms (z column disambiguates).
    """
    import functools
    import os

    from pyspark import StorageLevel

    segs = segs.persist(StorageLevel.DISK_ONLY)
    parts = []
    try:
        for z in range(z_min, z_max + 1):
            parts.append(
                write_road_mvt(segs, os.path.join(out_dir, f"zl={z}"), level=z)
            )
    finally:
        segs.unpersist()
    # read-backs are plain parquet scans — unioning them re-plans only
    # the scans, never the encode passes (already materialized)
    return functools.reduce(DataFrame.unionByName, parts)
