"""Output checks. They run outside the timed region, on a seeded sample.

Expected values come from the engine's SQL twins evaluated in DuckDB
(land cover, elevation, haversine nearest station) or from numpy brute
force written here (point-in-polygon, radius pairs, 1-NN, pixel statistics,
resize features, cosine top-k). Every check returns a list of error
strings; an empty list means the output is correct.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from tiff_enrichment_pipeline_spark import geotables as gt
from tiff_enrichment_pipeline_spark.functions.geo import haversine_m_sql

import gen

EARTH_R = 6371000.0


def close(a, b, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def _cmp(errs: list[str], what: str, key, got, want, **tol) -> None:
    if len(errs) < 20 and not close(got, want, **tol):
        errs.append(f"{what}[{key}]: got {got!r}, want {want!r}")


def haversine_np(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi, dl = np.radians(lat2 - lat1), np.radians(lon2 - lon1)
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(a))


# ---------------------------------------------------------------------------
# enrichment (enrich_noop, cli_batch): DuckDB twins
# ---------------------------------------------------------------------------

def expected_enrichment(points: pd.DataFrame, stations: pd.DataFrame) -> pd.DataFrame:
    """image_id → land cover, elevation and nearest station (haversine,
    ties to the smaller station id) from the package's SQL twins."""
    cls, conf = gt.landcover_lookup_sql("p.lon", "p.lat")
    elev = gt.elevation_bilinear_sql("p.lon", "p.lat")
    in_box = (f"p.lon >= {gt.NL_LON0} AND p.lon < {gt.NL_LON0 + gt.NL_LON_SPAN} "
              f"AND p.lat >= {gt.NL_LAT0} AND p.lat < {gt.NL_LAT0 + gt.NL_LAT_SPAN}")
    hav = haversine_m_sql("p.lat", "p.lon", "s.st_lat", "s.st_lon")
    con = duckdb.connect()
    try:
        con.register("pts", points.dropna(subset=["lon", "lat"])[["image_id", "lon", "lat"]])
        con.register("st", stations[["station_id", "st_lon", "st_lat"]])
        return con.execute(f"""
            WITH p AS (SELECT * FROM pts WHERE lon IS NOT NULL AND lat IS NOT NULL),
            nn AS (
              SELECT image_id, station_id, d, ROW_NUMBER() OVER (
                PARTITION BY image_id ORDER BY d, station_id) AS rk
              FROM (SELECT p.image_id, s.station_id, {hav} AS d
                    FROM p CROSS JOIN st s)
            )
            SELECT p.image_id, {cls} AS land_cover_class,
                   {conf} AS land_cover_confidence,
                   CASE WHEN {in_box} THEN {elev} END AS elevation,
                   nn.station_id AS station_id, nn.d AS dist_m
            FROM p JOIN nn ON nn.image_id = p.image_id AND nn.rk = 1
        """).df()
    finally:
        con.close()


def check_enriched(got: pd.DataFrame, points: pd.DataFrame, stations: pd.DataFrame,
                   weather_of) -> list[str]:
    """``got``: engine output rows for the sampled image ids.
    ``weather_of(station_id, captured_at)`` → expected (temp, wind, precip)
    or None outside the observation history."""
    errs: list[str] = []
    want = expected_enrichment(points, stations).set_index("image_id")
    got = got.set_index("image_id")
    if set(got.index) != set(points["image_id"]):
        return [f"sampled ids missing from output: "
                f"{sorted(set(points['image_id']) - set(got.index))[:5]}"]
    st_pos = stations.set_index("station_id")
    for iid, p in points.set_index("image_id").iterrows():
        g = got.loc[iid]
        if iid not in want.index:  # NULL GPS passes through
            if g["enrich_status"] != "no_gps" or not pd.isna(g["weather_station_id"]):
                errs.append(f"no-GPS row {iid} was enriched")
            continue
        w = want.loc[iid]
        if g["land_cover_class"] != (None if pd.isna(w["land_cover_class"])
                                     else w["land_cover_class"]):
            errs.append(f"land_cover_class[{iid}]: {g['land_cover_class']!r} "
                        f"!= {w['land_cover_class']!r}")
        _cmp(errs, "land_cover_confidence", iid,
             _f(g["land_cover_confidence"]), _f(w["land_cover_confidence"]))
        _cmp(errs, "elevation", iid, _f(g["elevation"]), _f(w["elevation"]))
        sid = int(g["weather_station_id"])
        if sid != int(w["station_id"]):
            # equidistant stations: accept either when distances agree
            s = st_pos.loc[sid]
            d = float(haversine_np(p["lat"], p["lon"], s["st_lat"], s["st_lon"]))
            if not close(d, float(w["dist_m"]), rel=1e-9, abs_=1e-6):
                errs.append(f"station[{iid}]: {sid} != {int(w['station_id'])}")
                continue
        weather = g["weather"]
        _cmp(errs, "nearest_dist_m", iid, _f(weather["nearest_dist_m"]),
             float(w["dist_m"]), rel=1e-7, abs_=1e-3)
        exp = weather_of(sid, p["captured_at"])
        for j, name in enumerate(("temp_c", "wind_ms", "precip_mm")):
            _cmp(errs, name, iid, _f(weather[name]),
                 None if exp is None else float(exp[j]))
    return errs


def _f(v):
    return None if v is None or pd.isna(v) else float(v)


def weather_by_day(lo: np.datetime64, n_days: int):
    def weather_of(sid: int, ts) -> tuple | None:
        day = int((np.datetime64(pd.Timestamp(ts).date(), "D") - lo).astype(int))
        if not 0 <= day < n_days:
            return None
        v = gen.obs_values(np.int64(sid), np.int64(day))
        return (v["obs_temp_c"], v["obs_wind_ms"], v["obs_precip_mm"])
    return weather_of


def cli_tables(sf_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(images, stations) the CLI derives from orders/supplier, through
    the package's SQL twins."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
        con.execute(f"CREATE VIEW supplier AS SELECT * FROM read_parquet('{sf_dir}/supplier.parquet')")
        images = con.execute(gt.images_geo_sql()).df()
        stations = con.execute(gt.stations_sql()).df()
    finally:
        con.close()
    return images, stations


def cli_counts(out_dir: str) -> dict[str, int]:
    con = duckdb.connect()
    try:
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        return {
            "written": q(f"SELECT count(*) FROM read_parquet('{out_dir}/enriched/p_bucket=*/*/*.parquet')"),
            "lineage": q(f"SELECT sum(rows_out) FROM read_parquet('{out_dir}/lineage/*.parquet')"),
            "metrics": int(q(
                f"SELECT metric_value FROM read_parquet('{out_dir}/metrics/*.parquet') "
                "WHERE metric_name = 'pipeline_processed_files_total'")),
        }
    finally:
        con.close()


def cli_sample(out_dir: str, ids: list[int]) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        id_list = ",".join(str(int(i)) for i in ids)
        return con.execute(f"""
            SELECT image_id, land_cover_class, land_cover_confidence, elevation,
                   weather_station_id, weather, enrich_status
            FROM read_parquet('{out_dir}/enriched/p_bucket=*/*/*.parquet', hive_partitioning = true)
            WHERE image_id IN ({id_list})
        """).df()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# spatial_ops: numpy brute force
# ---------------------------------------------------------------------------

def pip_expected(lon: float, lat: float, polys: pd.DataFrame) -> str | None:
    """Best containing polygon (max confidence, then smallest id) by the
    even-odd rule with the half-open bbox, or None."""
    best = None
    for p in polys.itertuples():
        if not (p.xmin <= lon < p.xmax and p.ymin <= lat < p.ymax):
            continue
        X = np.array([v["x"] for v in p.vertices])
        Y = np.array([v["y"] for v in p.vertices])
        Xj, Yj = np.roll(X, 1), np.roll(Y, 1)
        straddle = (Y > lat) != (Yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = X + (lat - Y) / (Yj - Y) * (Xj - X)
        if int((straddle & (lon < x_int)).sum()) % 2 == 1:
            key = (-p.confidence, p.polygon_id)
            if best is None or key < best[0]:
                best = (key, p.polygon_id)
    return None if best is None else best[1]


def check_pip(got: pd.DataFrame, probes: pd.DataFrame, polys: pd.DataFrame) -> list[str]:
    errs = []
    got = got.set_index("image_id")["polygon_id"]
    for p in probes.itertuples():
        want = None if pd.isna(p.lon) else pip_expected(p.lon, p.lat, polys)
        g = got.get(p.image_id)
        g = None if g is None or pd.isna(g) else g
        if g != want and len(errs) < 20:
            errs.append(f"pip[{p.image_id}]: {g!r} != {want!r}")
    return errs


def check_radius(got: pd.DataFrame, probes: pd.DataFrame, stations: pd.DataFrame,
                 radius_m: float) -> list[str]:
    errs = []
    for p in probes.itertuples():
        have = set(got.loc[got["image_id"] == p.image_id, "station_id"])
        if pd.isna(p.lon):
            want = set()
            edge = set()
        else:
            d = haversine_np(p.lat, p.lon, stations["st_lat"].to_numpy(),
                             stations["st_lon"].to_numpy())
            ids = stations["station_id"].to_numpy()
            want = set(ids[d <= radius_m].tolist())
            edge = set(ids[np.abs(d - radius_m) < 1e-6].tolist())
        if (have ^ want) - edge and len(errs) < 20:
            errs.append(f"radius[{p.image_id}]: {len(have)} pairs, want {len(want)}")
    return errs


def check_dated(got: pd.DataFrame, probes: pd.DataFrame, stations: pd.DataFrame) -> list[str]:
    errs = []
    got = got.set_index("image_id")
    weather_of = weather_by_day(gen.OBS_LO, gen.OBS_DAYS)
    st_lat = stations["st_lat"].to_numpy()
    st_lon = stations["st_lon"].to_numpy()
    ids = stations["station_id"].to_numpy()
    for p in probes.itertuples():
        g = got.loc[p.image_id]
        if pd.isna(p.lon):
            if not pd.isna(g["station_id"]):
                errs.append(f"dated[{p.image_id}]: no-GPS probe got a station")
            continue
        d = haversine_np(p.lat, p.lon, st_lat, st_lon)
        best = int(ids[np.lexsort((ids, d))[0]])
        sid = int(g["station_id"])
        if sid != best and not close(float(d[ids == sid][0]), float(d.min())):
            errs.append(f"dated[{p.image_id}]: station {sid} != {best}")
            continue
        exp = weather_of(sid, p.captured_at)
        for j, name in enumerate(("obs_temp_c", "obs_wind_ms", "obs_precip_mm")):
            _cmp(errs, name, p.image_id, _f(g[name]), None if exp is None else float(exp[j]))
    return errs


def check_elevation(got: pd.DataFrame, probes: pd.DataFrame, terrain: pd.DataFrame) -> list[str]:
    """Salted elevation and terrain vs the SQL twins in DuckDB."""
    elev = gt.elevation_bilinear_sql("lon", "lat")
    ter = gt.terrain_sql("lon", "lat")
    in_box = (f"lon >= {gt.NL_LON0} AND lon < {gt.NL_LON0 + gt.NL_LON_SPAN} "
              f"AND lat >= {gt.NL_LAT0} AND lat < {gt.NL_LAT0 + gt.NL_LAT_SPAN}")
    con = duckdb.connect()
    try:
        con.register("pts", probes.dropna(subset=["lon", "lat"])[["image_id", "lon", "lat"]])
        want = con.execute(f"""
            SELECT image_id,
              CASE WHEN {in_box} THEN {elev} END AS elevation,
              CASE WHEN {in_box} THEN {ter['slope_deg']} END AS slope_deg,
              CASE WHEN {in_box} THEN {ter['hillshade']} END AS hillshade
            FROM pts""").df().set_index("image_id")
    finally:
        con.close()
    errs: list[str] = []
    g_e = got.set_index("image_id")
    g_t = terrain.set_index("image_id")
    for iid, w in want.iterrows():
        _cmp(errs, "elevation", iid, _f(g_e.loc[iid, "elevation"]), _f(w["elevation"]))
        _cmp(errs, "slope_deg", iid, _f(g_t.loc[iid, "slope_deg"]), _f(w["slope_deg"]),
             rel=1e-7, abs_=1e-7)
        _cmp(errs, "hillshade", iid, _f(g_t.loc[iid, "hillshade"]), _f(w["hillshade"]),
             rel=1e-7, abs_=1e-7)
    return errs


# ---------------------------------------------------------------------------
# curate_payloads: numpy on the generator's pixels
# ---------------------------------------------------------------------------

def resize_features(img: np.ndarray, out_w: int, out_h: int) -> tuple:
    """Pixel-centre-aligned bilinear resize with clamped borders and
    round-to-nearest, then (mean, std, p95, mean |first difference| along
    both axes)."""
    h, w = img.shape
    fy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    fx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    j0 = np.clip(np.floor(fy), 0, h - 2).astype(int)
    i0 = np.clip(np.floor(fx), 0, w - 2).astype(int)
    wy = np.clip(fy - j0, 0, 1)[:, None]
    wx = np.clip(fx - i0, 0, 1)[None, :]
    g = img.astype(float)
    top = (1 - wx) * g[j0][:, i0] + wx * g[j0][:, i0 + 1]
    bot = (1 - wx) * g[j0 + 1][:, i0] + wx * g[j0 + 1][:, i0 + 1]
    r = np.clip(np.rint((1 - wy) * top + wy * bot), 0, 65535)
    edge = np.abs(np.diff(r, axis=0)).mean() + np.abs(np.diff(r, axis=1)).mean()
    return (r.mean(), r.std(), float(np.percentile(r, 95)), edge)


def check_curate(stats: pd.DataFrame, feats: pd.DataFrame, pixels_of,
                 size: int) -> list[str]:
    """``pixels_of(image_id)`` → the uint16 band the decoder must return."""
    errs: list[str] = []
    stats = stats.set_index("image_id")
    feats = feats.set_index("image_id")
    for iid in feats.index:
        px = pixels_of(int(iid)).astype(np.int64)
        s = stats.loc[str(iid)]
        want = (px.min(), px.max(), px.sum(), (px * px).sum(), px.size)
        got = (s["px_min"], s["px_max"], s["px_sum"], s["px_sumsq"], s["px_n"])
        if tuple(int(v) for v in got) != tuple(int(v) for v in want) and len(errs) < 20:
            errs.append(f"band_stats[{iid}]: {got} != {want}")
        wf = resize_features(px, size, size)
        f = feats.loc[iid]
        for name, w in zip(("px_mean", "px_std", "px_p95", "edge_energy"), wf):
            _cmp(errs, name, iid, float(f[name]), float(w), rel=1e-9, abs_=1e-9)
    return errs


def check_topk(got: pd.DataFrame, corpus: np.ndarray, corpus_ids: np.ndarray,
               queries: np.ndarray, query_ids: np.ndarray, k: int) -> list[str]:
    errs: list[str] = []
    C = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    for qi, qid in enumerate(query_ids):
        rows = got[got["vec_id"] == qid].sort_values("rank")
        q = queries[qi] / np.linalg.norm(queries[qi])
        sims = C @ q
        order = np.lexsort((corpus_ids, -sims))[:k]
        if len(rows) != k:
            errs.append(f"topk[{qid}]: {len(rows)} rows")
            continue
        for r, j in zip(rows.itertuples(), order):
            if r.neighbor_id != corpus_ids[j] and not close(r.cosine, sims[j], rel=1e-12):
                errs.append(f"topk[{qid}] rank {r.rank}: {r.neighbor_id} != {corpus_ids[j]}")
                break
            _cmp(errs, "cosine", qid, float(r.cosine), float(sims[j]), rel=1e-9, abs_=1e-12)
    return errs
