"""Deterministic fixture/bench generators (FIXTURES.md §1, §4).

All randomness flows from ``numpy.random.default_rng(seed)`` in a fixed
call order; no wall clock anywhere.  Tag maps are carried as raw
``'k=v;k=v'`` strings (``tags_raw``) and decoded JVM-side with
``sources.extract.poi_tags_map_sql`` — keeps generator output
Arrow-friendly and the hot path Python-free.

City boxes create the dense-cluster skew the match kernel must handle
(FIXTURES case I); the world background exercises band/wraparound math.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

from .functions.sqlgen import M_PER_DEG
from .sources.extract import extract_text

# (name, center_lat, center_lon, half_extent_km)
DEFAULT_CITIES = [
    ("moscow", 55.7558, 37.6173, 12.0),
    ("berlin", 52.5200, 13.4050, 10.0),
    ("nyc", 40.7128, -74.0060, 10.0),
    ("tokyo", 35.6762, 139.6503, 12.0),
    ("sydney", -33.8688, 151.2093, 8.0),
    ("saopaulo", -23.5505, -46.6333, 10.0),
]

_AMENITIES = ["cafe", "fuel", "bank", "pharmacy", "restaurant"]


def parse_tags_raw(s: str) -> dict:
    """'k=v;k=v' -> dict (test/oracle helper; mirrors poi_tags_map_sql)."""
    out = {}
    if not s:
        return out
    for part in s.split(";"):
        if part and "=" in part:
            k, _, v = part.partition("=")
            out[k] = v
    return out


def gen_point_cloud(n: int, rng: np.random.Generator, city_frac: float = 0.7):
    """n (lat, lon) float64 points: city clusters + world background."""
    in_city = rng.random(n) < city_frac
    city_idx = rng.integers(0, len(DEFAULT_CITIES), size=n)
    lat = np.empty(n)
    lon = np.empty(n)
    u = rng.uniform(-1.0, 1.0, size=n)
    v = rng.uniform(-1.0, 1.0, size=n)
    for i, (_, clat, clon, half_km) in enumerate(DEFAULT_CITIES):
        m = in_city & (city_idx == i)
        dlat = half_km * 1000.0 / M_PER_DEG
        dlon = half_km * 1000.0 / (M_PER_DEG * np.cos(np.radians(clat)))
        lat[m] = clat + u[m] * dlat
        lon[m] = clon + v[m] * dlon
    w = ~in_city
    lat[w] = rng.uniform(-75.0, 75.0, size=int(w.sum()))
    lon[w] = rng.uniform(-180.0, 179.999, size=int(w.sum()))
    return lat, lon


def offset_meters(lat, lon, dist_m, bearing_rad):
    """Move points by dist_m at bearing (equirectangular, same metric)."""
    dlat = dist_m * np.cos(bearing_rad) / M_PER_DEG
    dlon = dist_m * np.sin(bearing_rad) / (M_PER_DEG * np.cos(np.radians(lat)))
    return lat + dlat, lon + dlon


def gen_dataset(
    n: int,
    seed: int = 42,
    dup_id_frac: float = 0.002,
    spatial_dup_frac: float = 0.002,
) -> pd.DataFrame:
    """dataset_points per FIXTURES §1.2 (tags as tags_raw string)."""
    rng = np.random.default_rng(seed)
    lat, lon = gen_point_cloud(n, rng)
    ids = np.array([f"d{i:08d}" for i in range(n)])
    amen = [_AMENITIES[i % len(_AMENITIES)] for i in range(n)]
    tags_raw = [f"name=POI {i};amenity={amen[i]}" for i in range(n)]
    df = pd.DataFrame(
        {
            "id": ids,
            "lat": lat,
            "lon": lon,
            "tags_raw": tags_raw,
            "category": pd.array([None] * n, dtype=object),
            "remarks": pd.array([None] * n, dtype=object),
            "url": [f"https://site{i % 997:04d}.example/p/{i}" for i in range(n)],
        }
    )
    # inject duplicate ids (D1): copies of early rows appended with jitter
    # (urls sort AFTER the originals so the keep-first-by-url rule D1
    # keeps the original row, matching the oracle's input-order semantics)
    n_dup = int(n * dup_id_frac)
    if n_dup:
        dup = df.iloc[:n_dup].copy()
        dup["lat"] = dup["lat"] + 0.001
        dup["url"] = [f"https://zdup.example/p/{i}" for i in range(n_dup)]
        df = pd.concat([df, dup], ignore_index=True)
    # inject spatial duplicates (D2): points ~0.4 m from existing ones
    n_sd = int(n * spatial_dup_frac)
    if n_sd:
        base = df.iloc[n_dup : n_dup + n_sd]
        sl, so = offset_meters(
            base["lat"].to_numpy(), base["lon"].to_numpy(), 0.4,
            rng.uniform(0, 2 * np.pi, size=n_sd),
        )
        sd = pd.DataFrame(
            {
                "id": [f"z{i:08d}" for i in range(n_sd)],  # larger id => dropped
                "lat": sl,
                "lon": so,
                "tags_raw": base["tags_raw"].to_numpy(),
                "category": pd.array([None] * n_sd, dtype=object),
                "remarks": pd.array([None] * n_sd, dtype=object),
                "url": [f"https://dup.example/p/{i}" for i in range(n_sd)],
            }
        )
        df = pd.concat([df, sd], ignore_index=True)
    return df


def gen_osm(
    ds: pd.DataFrame,
    seed: int = 43,
    match_frac: float = 0.65,
    near_miss_frac: float = 0.08,
    ref_orphan_frac: float = 0.03,
    background_frac: float = 0.15,
    max_distance: float = 100.0,
    dataset_id: str = "test",
) -> pd.DataFrame:
    """osm_points per FIXTURES §1.3, correlated with a dataset frame:

    * ``match_frac`` of dataset points get an OSM twin offset 1..0.9*r m
    * ``near_miss_frac`` get a twin offset 1.2*r..5*r m (vicinity/retag food)
    * ``ref_orphan_frac`` standalone points carrying ``ref:<dataset_id>``
      far from everything (delete cases)
    * ``background_frac`` unrelated world points (untouched cases)
    """
    rng = np.random.default_rng(seed)
    n = len(ds)
    lat = ds["lat"].to_numpy()
    lon = ds["lon"].to_numpy()
    rows_lat, rows_lon, rows_tags, kinds = [], [], [], []

    m = rng.random(n) < match_frac
    d_off = rng.uniform(1.0, 0.9 * max_distance, size=int(m.sum()))
    b = rng.uniform(0, 2 * np.pi, size=int(m.sum()))
    ml, mo = offset_meters(lat[m], lon[m], d_off, b)
    rows_lat.append(ml)
    rows_lon.append(mo)
    rows_tags.extend(ds["tags_raw"].to_numpy()[m])
    kinds.extend(["twin"] * int(m.sum()))

    nm = (~m) & (rng.random(n) < near_miss_frac / max(1e-9, 1 - match_frac))
    d_off = rng.uniform(1.2 * max_distance, 5 * max_distance, size=int(nm.sum()))
    b = rng.uniform(0, 2 * np.pi, size=int(nm.sum()))
    nl, no = offset_meters(lat[nm], lon[nm], d_off, b)
    rows_lat.append(nl)
    rows_lon.append(no)
    rows_tags.extend(ds["tags_raw"].to_numpy()[nm])
    kinds.extend(["near"] * int(nm.sum()))

    n_orph = int(n * ref_orphan_frac)
    ol, oo = gen_point_cloud(n_orph, rng, city_frac=0.0)
    rows_lat.append(ol)
    rows_lon.append(oo)
    rows_tags.extend(
        f"amenity=cafe;ref:{dataset_id}=gone{i:07d}" for i in range(n_orph)
    )
    kinds.extend(["orphan"] * n_orph)

    n_bg = int(n * background_frac)
    bl, bo = gen_point_cloud(n_bg, rng, city_frac=0.5)
    rows_lat.append(bl)
    rows_lon.append(bo)
    rows_tags.extend("building=yes" for _ in range(n_bg))
    kinds.extend(["bg"] * n_bg)

    alat = np.concatenate(rows_lat)
    alon = np.concatenate(rows_lon)
    total = len(alat)
    types = np.where(rng.random(total) < 0.9, "node",
                     np.where(rng.random(total) < 0.5, "way", "relation"))
    return pd.DataFrame(
        {
            "osm_type": types,
            "osm_id": np.arange(1, total + 1, dtype=np.int64),
            "version": (np.arange(total) % 5 + 1).astype(np.int32),
            "lat": alat,
            "lon": alon,
            "tags_raw": rows_tags,
            "kind": kinds,  # generator-only provenance, dropped before use
        }
    )


# ---------------------------------------------------------------------------
# pages — Common-Crawl-style table embedding the dataset points
# ---------------------------------------------------------------------------

_HTML_TEMPLATE = (
    "<!DOCTYPE html><html><head><title>{title}</title>"
    "<style>body {{ font: 14px sans-serif; }}</style>"
    "<script>var t = {i} && 'tracker &amp; stuff';</script></head>"
    "<body><!-- boilerplate {i} --><h1>{title}</h1>"
    '<div class="poi" data-id="{pid}" data-lat="{lat!r}" data-lon="{lon!r}"'
    ' data-tags="{tags}">\n<p>Visit {name} &amp; friends &lt;today&gt; '
    "&quot;now&quot;&nbsp;open.</p></div>"
    "<p>Lorem ipsum dolor sit amet {i} consectetur.</p></body></html>"
)

_LANGS = ["en", "de", "fr", "ru", "es"]


def gen_pages(ds: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """pages per FIXTURES §1.1: html embeds each dataset point; ``text``
    is the frozen extractor's output (golden byte-identity source)."""
    base = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)
    n = len(ds)
    htmls = []
    for i in range(n):
        name = f"POI {i}"
        htmls.append(
            _HTML_TEMPLATE.format(
                title=f"Page {i}",
                i=i,
                pid=ds["id"].iloc[i],
                lat=float(ds["lat"].iloc[i]),
                lon=float(ds["lon"].iloc[i]),
                tags=ds["tags_raw"].iloc[i],
                name=name,
            ).encode("utf-8")
        )
    pdf = pd.DataFrame(
        {
            "url": ds["url"].to_numpy(),
            "warc_ts": [base + _dt.timedelta(seconds=137 * i) for i in range(n)],
            "html": htmls,
            "lang": [_LANGS[(i // 20) % len(_LANGS)] for i in range(n)],
        }
    )
    pdf["text"] = extract_text(pdf["html"])
    return pdf
