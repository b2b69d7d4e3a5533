"""Spark-free expected output of one benchmark input, and the
order-insensitive digest both sides are compared by.

The rules follow ``osm_conflate_spark.reference_model`` (the sequential
reference semantics): keep-first ref-dedup by url, ids-ascending
spatial dedup, nearest-first greedy with the total key
``(dist, dataset_id, osm_pk)``, then modify / create / delete / retag.
The tag merge is ``reference_model.merge_tags`` itself; only the
reference model's O(n^2) candidate loops are replaced, by a numpy grid
search.  Distances use ``distance_np``, the authoritative metric.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.functions.geo import distance_np
from osm_conflate_spark.functions.sqlgen import M_PER_DEG
from osm_conflate_spark.gen import parse_tags_raw
from osm_conflate_spark.reference_model import merge_tags

CHANGE_COLS = ("action", "osm_type", "osm_id", "version", "lat", "lon",
               "tags", "dataset_id", "match_dist")


# ---------------------------------------------------------------------------
# digest
# ---------------------------------------------------------------------------

def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _canon(row) -> str:
    action, osm_type, osm_id, version, lat, lon, tags, ds_id, dist = row
    if isinstance(tags, dict):
        tags = tags.items()
    return "\x1f".join([
        action,
        osm_type,
        "" if _is_null(osm_id) else str(int(osm_id)),
        str(int(version)),
        repr(float(lat)),
        repr(float(lon)),
        "\x1e".join(f"{k}={v}" for k, v in sorted(tags or ())),
        "" if _is_null(ds_id) else str(ds_id),
        "" if _is_null(dist) else repr(float(dist)),
    ])


def change_digest(rows) -> str:
    """Order-insensitive digest of change rows given in CHANGE_COLS order."""
    h = hashlib.sha256()
    for c in sorted(_canon(r) for r in rows):
        h.update(c.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# grid neighbour search
# ---------------------------------------------------------------------------

_LAT_OFF, _LON_OFF, _LON_BITS = 1 << 25, 1 << 27, 28


def pairs_within(alat, alon, blat, blon, radius: float, strict: bool,
                 chunk: int = 20_000):
    """All (i, j, d) with d = distance_np(a_i, b_j) <= radius (< if
    strict).  Cells are ``radius`` tall and, in longitude, wide enough at
    the data's highest |lat| that points two cells apart are provably
    farther than ``radius`` apart, so the 3x3 neighbourhood is complete."""
    alat, alon = np.asarray(alat, float), np.asarray(alon, float)
    blat, blon = np.asarray(blat, float), np.asarray(blon, float)
    empty = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    if len(alat) == 0 or len(blat) == 0:
        return empty
    max_lat = float(np.abs(np.concatenate([alat, blat])).max())
    cos_min = math.cos(math.radians(min(89.0, max_lat + radius / M_PER_DEG)))
    sy = M_PER_DEG / radius
    sx = M_PER_DEG * cos_min / radius

    def key(lat, lon):
        cy = np.floor(lat * sy).astype(np.int64) + _LAT_OFF
        cx = np.floor(lon * sx).astype(np.int64) + _LON_OFF
        return (cy << _LON_BITS) + cx

    bkey = key(blat, blon)
    border = np.argsort(bkey, kind="stable")
    bsorted = bkey[border]
    out_i, out_j, out_d = [], [], []
    for s in range(0, len(alat), chunk):
        ak = key(alat[s : s + chunk], alon[s : s + chunk])
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                q = ak + (dy << _LON_BITS) + dx
                lo = np.searchsorted(bsorted, q, "left")
                cnt = np.searchsorted(bsorted, q, "right") - lo
                tot = int(cnt.sum())
                if tot == 0:
                    continue
                ia = np.repeat(np.arange(len(ak)), cnt)
                first = np.repeat(np.cumsum(cnt) - cnt, cnt)
                jb = border[np.repeat(lo, cnt) + np.arange(tot) - first]
                ia = ia + s
                d = distance_np(alat[ia], alon[ia], blat[jb], blon[jb])
                keep = d < radius if strict else d <= radius
                out_i.append(ia[keep])
                out_j.append(jb[keep])
                out_d.append(d[keep])
    if not out_i:
        return empty
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_d)


# ---------------------------------------------------------------------------
# the conflation rules
# ---------------------------------------------------------------------------

def _dataset_points(inp, ds: pd.DataFrame) -> pd.DataFrame:
    """(id, lat, lon, tags_raw, url) as the program receives them."""
    if inp.reads_pages:
        # the pages carry coordinates as text; parse them with the frozen
        # U1 extractor (pandas, golden-tested) so both sides start from
        # identical doubles, and hold ids/tags to the generator's truth
        import pyarrow.parquet as pq

        from osm_conflate_spark.sources.extract import extract_poi

        html = pq.read_table(inp.pages, columns=["html"]).column("html").to_pandas()
        poi = extract_poi(html)
        if not (poi["poi_id"].to_numpy() == ds["id"].to_numpy()).all() or not (
            poi["poi_tags_raw"].to_numpy() == ds["tags_raw"].to_numpy()
        ).all():
            raise RuntimeError("extracted POI payload differs from the generator")
        if np.abs(poi["poi_lat"].to_numpy() - ds["lat"].to_numpy()).max() > 1e-9:
            raise RuntimeError("extracted coordinates differ from the generator")
        ds = ds.assign(lat=poi["poi_lat"].to_numpy(), lon=poi["poi_lon"].to_numpy())
    return ds[["id", "lat", "lon", "tags_raw", "url"]]


def expected(inp) -> dict:
    """Run the reference rules over one input set (numpy + Python)."""
    cfg: ConflateConfig = inp.cfg
    if cfg.matches is not None or cfg.weight is not None or cfg.query \
            or cfg.transform or cfg.categories:
        raise ValueError("oracle covers the default profile hooks only")
    from .workloads import gen_frames

    gen_ds, osm = gen_frames(inp.workload, inp.n, inp.seed, cfg)
    raw = _dataset_points(inp, gen_ds)
    n_input = len(raw)
    # D1 ref-dedup: first row per id in url order
    ds = raw.sort_values(["id", "url"], kind="stable").drop_duplicates("id")
    # D2 spatial dedup: ids ascending, drop p if a KEPT smaller id is
    # strictly within duplicate_distance
    ds = ds.sort_values("id", kind="stable").reset_index(drop=True)
    lat, lon = ds["lat"].to_numpy(), ds["lon"].to_numpy()
    i, j, _ = pairs_within(lat, lon, lat, lon, cfg.duplicate_distance, strict=True)
    smaller: dict[int, list[int]] = {}
    for a, b in zip(i.tolist(), j.tolist()):
        if a < b:  # rows are sorted by id, so row order is id order
            smaller.setdefault(b, []).append(a)
    dropped: set[int] = set()
    for b in sorted(smaller):
        if any(a not in dropped for a in smaller[b]):
            dropped.add(b)
    ds = ds.drop(index=sorted(dropped)).reset_index(drop=True)
    ds_tags = [
        {k: v.strip() for k, v in parse_tags_raw(s).items()} for s in ds["tags_raw"]
    ]

    osm = osm.reset_index(drop=True)
    osm_pk = (osm["osm_type"].str[0] + osm["osm_id"].astype(str)).to_numpy()
    o_type, o_id, o_ver, o_lat, o_lon = (
        osm[c].tolist() for c in ("osm_type", "osm_id", "version", "lat", "lon")
    )
    d_id, d_lat, d_lon = (ds[c].tolist() for c in ("id", "lat", "lon"))
    osm_tags = [parse_tags_raw(s) for s in osm["tags_raw"]]

    # J1 candidates within the match radius, then J2 sequential greedy
    di, oj, dist = pairs_within(
        ds["lat"].to_numpy(), ds["lon"].to_numpy(),
        osm["lat"].to_numpy(), osm["lon"].to_numpy(),
        cfg.max_distance, strict=False,
    )
    vicinity = set(oj.tolist())
    _, ds_rank = np.unique(ds["id"].to_numpy(), return_inverse=True)
    _, pk_rank = np.unique(osm_pk, return_inverse=True)
    order = np.lexsort((pk_rank[oj], ds_rank[di], dist))
    used_d: set[int] = set()
    used_o: set[int] = set()
    matched = []
    for k in order.tolist():
        a, b = int(di[k]), int(oj[k])
        if a in used_d or b in used_o:
            continue
        used_d.add(a)
        used_o.add(b)
        matched.append((a, b, float(dist[k])))

    ref_key = cfg.ref_key
    rows = []
    for a, b, d in matched:
        merged, changed = merge_tags(
            ds_tags[a], osm_tags[b], cfg.master_tags, ref_key, d_id[a])
        moved = o_type[b] == "node" and d > cfg.position_tolerance
        if changed or moved:
            rows.append((
                "modify", o_type[b], o_id[b], o_ver[b],
                d_lat[a] if moved else o_lat[b],
                d_lon[a] if moved else o_lon[b],
                merged, d_id[a], d,
            ))
    for a in sorted(set(range(len(ds))) - used_d):
        tags = dict(ds_tags[a])
        tags[ref_key] = d_id[a]
        rows.append(("create", "node", None, 1, d_lat[a], d_lon[a], tags,
                     d_id[a], None))
    renames = cfg.tag_unmatched_dict
    for b in sorted(set(range(len(osm))) - used_o):
        tags = osm_tags[b]
        ref_val = tags.get(ref_key)
        head = (o_type[b], o_id[b], o_ver[b], o_lat[b], o_lon[b])
        if ref_val is not None and cfg.delete_unmatched:
            rows.append(("delete", *head, dict(tags), ref_val, None))
            continue
        if ref_val is None and b not in vicinity:
            continue
        new = dict(tags)
        touched = False
        for old, nk in renames.items():
            if old in new:
                new[nk] = new.pop(old)
                touched = True
        if touched:
            rows.append(("retag", *head, new, ref_val, None))

    actions: dict[str, int] = {}
    for r in rows:
        actions[r[0]] = actions.get(r[0], 0) + 1
    return dict(
        n_input=n_input,
        n_deduped=len(ds),
        n_pairs=int(len(dist)),
        n_matched=len(matched),
        actions=actions,
        digest=change_digest(rows),
    )


def cached_expected(work: str, inp) -> dict:
    """``expected`` computed once per input set (its directory name holds
    the workload, size, seed and cache key)."""
    path = os.path.join(work, "expected", os.path.basename(inp.root) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    exp = expected(inp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, path)
    return exp
