"""kNN weather-station join — exact nearest stations in one Arrow map stage.

Re-creates the reference's declared nearest-station weather enrichment
(open_meteo source, JSONB weather payload keyed to the image point;
reference: scripts/create-tables.sql:128-132, scripts/init-db.sql:60) as a
provably-exact kNN join (SURVEY.md J6, W5). Design:

- **Build-certified per-cell index** (:func:`build_knn_index`). The
  station dimension is collected once, sorted by station_id and indexed
  on a fine lat/lon grid (:func:`_station_index`, shared with the fused
  lookup in ``geo_arrow``): every cell near a station maps to the station
  positions whose list provably contains the exact top-k for EVERY point
  of the cell (triangle-inequality prune from the cell center). Index,
  unit-sphere station coordinates and ids ride one broadcast. An index
  past ``MAX_INDEX_ENTRIES`` is dropped and every probe takes the
  fallback scan.
- **Trig-free GEMM kernel** (:func:`topk_indexed_np`, inside a pandas
  UDF). The ranking key is the squared 3-D chord ``2 − 2·p·s`` of unit
  vectors, strictly monotonic in great-circle distance, so ordering is
  exact; a batch is one pooled GEMM over its cells' lists plus k masked
  argmin passes. Stations are id-ascending, so argmin's first-occurrence
  rule IS the SQL oracle's ``ORDER BY dist, station_id`` tie-break.
  arcsin runs once per winner, not per candidate.
- **fp32-prefilter full scan for probes outside coverage**
  (:func:`_fallback_f32_scan`): an fp32 GEMM against every station keeps
  the candidates within a margin of the fp32 k-th best, re-ranked in fp64
  — exact, at half the memory traffic of an fp64 scan.
- **Winner payloads re-attached by a broadcast join on ``_st_idx``**
  (:func:`_with_station`): the UDF returns only (station position,
  chord²) per rank; the station columns come back from a broadcast
  ``(_st_idx, station cols…)`` table.
  No exchange is keyed by anything geographic, so hot cells cannot skew a
  stage, and plan size is independent of |stations|.
- **Null-GPS gated.** Missing/NaN coordinates yield NULL payloads
  (:func:`knn_nearest`) or no rows (:func:`knn_station_join`) — never a
  fabricated match.

Dated weather (:func:`nearest_station_dated`, and ``plans.enrich``) adds
the capture date through one attach (:func:`attach_observations`): the
(station_id, date) observation dimension is packed into one row per
station with one primitive array per payload column
(:func:`pack_observations_columnar`), broadcast, and read by day offset
(:func:`packed_obs_lookup`) — or, for dimensions too big to broadcast,
joined row by row on the composite key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.session import BROADCAST_THRESHOLD_BYTES

EARTH_R = 6371000.0  # reference: core/validation.py:88

#: coverage of every station index the operators build: grid resolution
#: (the index's fine grid has ``2**(INDEX_RES + 2)`` columns) and
#: Chebyshev ring (see :func:`build_knn_index`). Results are exact for any
#: pair; this one trades candidate-list size against fallback frequency.
INDEX_RES, INDEX_RING = 10, 2

#: cap on an index's total entries (int32 station positions): the
#: session's broadcast budget at 4 bytes per entry. Past it the index is
#: dropped and every probe takes the exact full scan.
MAX_INDEX_ENTRIES = BROADCAST_THRESHOLD_BYTES // 4

#: fp32-prefilter exclusion margin (see _fallback_f32_scan): worst-case
#: |fp32−fp64| of 2−2·dot3 on unit vectors is < 2e-6; 1e-4 is a 50×
#: safety factor, still excluding everything not within ~10 m-equivalent
#: chord² of the k-th best.
_F32_MARGIN = np.float32(1e-4)


def _chord2_to_m(d2: Column) -> Column:
    """Squared chord → great-circle meters: 2R·asin(chord/2). Equivalent to
    the haversine (core/validation.py:85-99): chord/2 == sqrt(hav).

    NaN-gated: the Arrow kNN emits NaN d2 for GPS-less rows, and
    F.least treats NaN as the largest value — without the guard a NaN
    would turn into asin(1.0) = the antipodal distance (20,015 km)
    instead of NULL."""
    return F.when(
        ~F.isnan(d2),
        F.lit(2.0 * EARTH_R)
        * F.asin(F.least(F.sqrt(d2) / F.lit(2.0), F.lit(1.0))),
    )


def _unit_xyz(lat: "np.ndarray", lon: "np.ndarray") -> "np.ndarray":
    """(n, 3) unit-sphere coordinates of lat/lon degrees."""
    rp, rl = np.radians(lat), np.radians(lon)
    return np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], axis=1
    )


def build_knn_index(
    s_lat: "np.ndarray",
    s_lon: "np.ndarray",
    s_xyz: "np.ndarray",
    k: int,
    res: int,
    ring: int,
) -> tuple[dict[int, "np.ndarray"], int]:
    """Build-certified kNN index: cell id → int32 station indices whose
    list provably contains the exact top-k for EVERY probe in the cell.

    The lists are pruned by geometry, so their size tracks the k-th
    neighbour distance rather than a fixed search area:

    - fine grid at ``res_f = res + 2``; built cells = station-occupied
      cells dilated by a ``4*ring`` Chebyshev ring (the coverage of a
      ``ring``-cell neighbourhood at ``res``) — probes outside take the
      full-scan fallback.
    - candidates of cell c = all stations with chord(c,s) ≤ kth(c) + 2·D(c)
      where kth(c) is (an fp32 upper bound on) the k-th nearest-station
      chord from the cell CENTER and D(c) bounds the max chord from the
      center to any point of the cell (meridian+parallel path bound).

    Completeness proof (triangle inequality in chord space — chord is the
    3-D Euclidean metric on unit-sphere points): for any probe p in c,
    kth(p) ≤ kth(c) + D (the k center-nearest stations are within
    kth(c)+D of p), so any s in topk(p) has d(c,s) ≤ d(p,s) + D ≤
    kth(c) + 2D. Hence selection over the pruned list equals selection
    over ALL stations — no runtime certification, no per-probe fallback
    inside covered cells. fp32 build error is absorbed by eps2 margins
    (worst-case |fp32−fp64| of 2−2·dot3 on unit vectors < 2e-6 ≪ 1e-5),
    which can only ADD candidates, never drop a true top-k member.

    Median list size at the 10k-station fixture: 344 stations (a plain
    (res=10, ring=2) neighbourhood holds a median 1031). Returns
    (index, res_f). The entry total is checked as the lists are built:
    past ``MAX_INDEX_ENTRIES`` a warning is emitted and the index comes
    back empty, so every probe takes the exact full scan."""
    import math
    import warnings

    res_f = res + 2
    ring_f = 4 * ring
    nx, ny = 2**res_f, 2 ** (res_f - 1)
    w = 360.0 / nx
    ix = np.clip(((s_lon + 180.0) / w).astype(np.int64), 0, nx - 1)
    iy = np.clip(((s_lat + 90.0) / w).astype(np.int64), 0, ny - 1)
    occ = np.unique(ix * np.int64(2**28) + iy)
    d = np.arange(-ring_f, ring_f + 1, dtype=np.int64)
    oix, oiy = occ >> 28, occ & (2**28 - 1)
    cix = (oix[:, None, None] + d[None, :, None]) % nx
    ciy = oiy[:, None, None] + d[None, None, :]
    cix, ciy = np.broadcast_arrays(cix, ciy)
    ok = (ciy >= 0) & (ciy < ny)
    cells = np.unique(cix[ok] * np.int64(2**28) + ciy[ok])
    gx, gy = cells >> 28, cells & (2**28 - 1)
    clon = (gx + 0.5) * w - 180.0
    clat = (gy + 0.5) * w - 90.0
    C = _unit_xyz(clat, clon).astype(np.float32)
    # D(c): max chord center→cell point via the meridian-then-parallel
    # path bound h/2 + cos(φ_min)·w/2 (path length ≥ great circle ≥ chord)
    m_per_deg = 2.0 * math.pi * EARTH_R / 360.0
    phi_min = np.minimum(np.abs(clat - w / 2), np.abs(clat + w / 2))
    phi_min = np.where((clat - w / 2 <= 0) & (clat + w / 2 >= 0), 0.0, phi_min)
    d_gc = m_per_deg * (w / 2 + np.cos(np.radians(phi_min)) * w / 2)
    d_ch = 2.0 * np.sin(np.minimum(d_gc / (2 * EARTH_R), math.pi / 2))
    S32 = s_xyz.T.astype(np.float32)
    kk = min(k, s_xyz.shape[0])
    out: dict[int, np.ndarray] = {}
    eps2 = np.float32(1e-5)  # ≥5× the worst-case fp32 chord² error
    CH = 4096  # bound the (cells × stations) build matrix to ~160 MB fp32
    entries = 0
    for c0 in range(0, len(cells), CH):
        cc = C[c0 : c0 + CH]
        d2 = 2.0 - 2.0 * (cc @ S32)  # fp32 chord², (chunk, S)
        np.maximum(d2, 0.0, out=d2)
        kth2 = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
        # upper bound on the true kth chord (error folded inside the sqrt
        # — adding it outside underestimates near d2≈0)
        kth = np.sqrt(kth2 + eps2)
        thr = kth + 2.0 * d_ch[c0 : c0 + CH].astype(np.float32)
        mask = d2 <= (thr * thr + eps2)[:, None]
        rows, cols = np.nonzero(mask)
        entries += len(rows)
        if entries > MAX_INDEX_ENTRIES:
            warnings.warn(
                f"kNN index passed {MAX_INDEX_ENTRIES} entries "
                f"({len(s_xyz)} stations, k={k}); using the full-scan "
                "kernel for every probe",
                stacklevel=2,
            )
            return {}, res_f
        starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
        bnds = np.r_[starts, len(rows)]
        for i in range(len(starts)):
            r = rows[starts[i]]
            cell = int(
                np.int64(res_f) * np.int64(2**56)
                + np.int64(cells[c0 + r] >> 28) * np.int64(2**28)
                + np.int64(cells[c0 + r] & (2**28 - 1))
            )
            # ascending station order (nonzero yields ascending cols) —
            # the argmin first-occurrence tie rule == smallest station id
            out[cell] = cols[bnds[i] : bnds[i + 1]].astype(np.int32)
    return out, res_f


#: per-worker grow-only scratch buffers (guide §4.5 heavyweight-state
#: pattern). Why: on this class of virtualized host, FIRST-TOUCH page
#: faults on fresh large allocations are orders of magnitude slower than
#: reuse (measured in-worker: a plain 160 MB numpy fill took 31 s on
#: first touch across 32 concurrent workers — ~5 MB/s — while warmed
#: pages run at full DRAM speed; the r7 record's 18.8→122 s knn spreads
#: and retried runs are this effect). Allocating the kernel's big
#: matrices once per worker and reusing them across batches/tasks/
#: queries (workers are reused: spark.python.worker.reuse default) pays
#: the fault cost once per worker instead of once per batch. The pool is
#: keyed by buffer name; shapes only ever grow; a PID guard resets it
#: after fork so children never share a parent's arrays.
_SCRATCH: dict = {}


def _scratch(name: str, shape: tuple, dtype) -> "np.ndarray":
    import os

    if _SCRATCH.get("_pid") != os.getpid():
        _SCRATCH.clear()
        _SCRATCH["_pid"] = os.getpid()
    buf = _SCRATCH.get(name)
    if buf is None or buf.dtype != np.dtype(dtype) or any(
        b < s for b, s in zip(buf.shape, shape)
    ):
        grown = (
            tuple(max(b, s) for b, s in zip(buf.shape, shape))
            if buf is not None and buf.dtype == np.dtype(dtype)
            else shape
        )
        buf = np.empty(grown, dtype)
        _SCRATCH[name] = buf
    return buf[tuple(slice(0, s) for s in shape)]


def topk_indexed_np(
    lat_v: "np.ndarray",
    lon_v: "np.ndarray",
    S_xyz: "np.ndarray",
    s_ids: "np.ndarray",
    index: dict[int, "np.ndarray"],
    k: int,
    res_f: int,
):
    """Exact kNN for a batch against a :func:`build_knn_index` index.

    Returns (idx, d2) of shape (n, k): winner positions into ``S_xyz``
    (as float64) and their chord², ascending by (d2, station_id); NaN in
    rows without GPS. The per-cell lists are complete by construction, so
    there is no runtime certification: probes in covered cells run one
    pooled GEMM + kk argmin passes over the pruned lists; probes outside
    coverage take the fp32-prefiltered full scan
    (:func:`_fallback_f32_scan`).

    ``s_ids`` must be ascending — only then is argmin's first-occurrence
    tie rule the (d2, station_id) oracle order — and a ValueError is
    raised when it is not."""
    if np.any(s_ids[1:] < s_ids[:-1]):
        raise ValueError(
            "topk_indexed_np needs s_ids in ascending order (the tie-break "
            "is the lowest station position); sort the stations by id first"
        )
    n = len(lat_v)
    kk = min(k, S_xyz.shape[0])
    out_idx = np.full((n, k), np.nan)
    out_d2 = np.full((n, k), np.nan)
    valid = ~np.isnan(lat_v) & ~np.isnan(lon_v)
    if not valid.any():
        return out_idx, out_d2
    P = _unit_xyz(lat_v, lon_v)
    nx, ny = 2**res_f, 2 ** (res_f - 1)
    w = 360.0 / nx
    ix = np.clip(np.nan_to_num((lon_v + 180.0) / w), 0, nx - 1)
    iy = np.clip(np.nan_to_num((lat_v + 90.0) / w), 0, ny - 1)
    key = np.where(
        valid,
        np.int64(res_f) * np.int64(2**56)
        + ix.astype(np.int64) * np.int64(2**28)
        + iy.astype(np.int64),
        np.int64(-1),
    )
    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    bounds = np.r_[starts, len(sk)]
    seg_rows: list[np.ndarray] = []
    seg_cand: list[np.ndarray] = []
    fb: list[np.ndarray] = []
    for gi in range(len(starts)):
        if sk[starts[gi]] == -1:
            continue
        rows = order[bounds[gi] : bounds[gi + 1]]
        cand = index.get(int(sk[starts[gi]]))
        if cand is None:
            fb.append(rows)
            continue
        seg_rows.append(rows)
        seg_cand.append(cand)
    # pooled pass in ROW CHUNKS of ~4096: bounds the padded (rows × mb)
    # buffer (pool first-touch cost — see _SCRATCH) and pads each chunk
    # only to ITS widest segment instead of the batch-wide maximum (one
    # dense cell does not inflate every row's padding)
    chunk_target = 4096
    g0 = 0
    while g0 < len(seg_rows):
        g1 = g0
        bn = 0
        while g1 < len(seg_rows) and (bn == 0 or bn + len(seg_rows[g1]) <= chunk_target):
            bn += len(seg_rows[g1])
            g1 += 1
        c_rows = seg_rows[g0:g1]
        c_cand = seg_cand[g0:g1]
        g0 = g1
        mb = max(len(c) for c in c_cand)
        rix = np.concatenate(c_rows)
        d2buf = _scratch("d2buf", (bn, mb), np.float64)
        gc = _scratch("gc", (len(c_cand), mb), np.int64)
        gc[: len(c_cand), :mb] = 0
        gidx = np.empty(bn, dtype=np.int64)
        pos = 0
        for g, (rows, cand) in enumerate(zip(c_rows, c_cand)):
            cw = len(cand)
            # BLAS (rows,3) @ (3,cw) on the un-padded candidate slice:
            # the same float ops as an unpooled per-cell GEMM
            d2buf[pos : pos + len(rows), :cw] = (
                2.0 - 2.0 * (P[rows] @ S_xyz[cand].T)
            )
            d2buf[pos : pos + len(rows), cw:] = np.inf
            gc[g, :cw] = cand
            gidx[pos : pos + len(rows)] = g
            pos += len(rows)
        ar = np.arange(bn)
        for j in range(kk):
            jj = np.argmin(d2buf, axis=1)
            out_idx[rix, j] = gc[gidx, jj].astype(np.float64)
            out_d2[rix, j] = np.maximum(d2buf[ar, jj], 0.0)
            if j + 1 < kk:
                d2buf[ar, jj] = np.inf
    if fb:
        _fallback_f32_scan(np.concatenate(fb), P, S_xyz, kk, out_idx, out_d2)
    return out_idx, out_d2


def _fallback_f32_scan(rows, P, S_xyz, kk, out_idx, out_d2):
    """Full-scan fallback for probes outside index coverage: fp32 GEMM
    prefilter + exact fp64 re-rank of the survivors.

    kth32 (the fp32 k-th best per row) comes from kk destructive argmin
    passes (no full-matrix partition). Every station with d2f ≤ kth32 +
    ``_F32_MARGIN`` survives — exact, because |fp32−fp64| < 2e-6 ≪ the
    margin, so no true fp64 top-k member can be excluded — and the
    survivors are re-ranked in fp64 as ONE flat ragged list with a single
    lexsort. The survivor set has no fixed width, so clustered build sides
    (tens of co-located stations) never force a second full scan.
    Tie-break: the lexsort minor key is the ascending station position ==
    ascending id. Results are written into ``out_idx``/``out_d2``."""
    S32 = S_xyz.T.astype(np.float32)
    # chunk rows: bounds the pooled fp32 matrices to (1024 × |S|) ≈ 40 MB
    # at 10k stations — the pool's one-time first-touch cost per worker
    # scales with the arena, so smaller is better as long as the GEMM
    # stays efficient (row dim 1024 is plenty)
    CH = 1024
    for c0 in range(0, len(rows), CH):
        r = rows[c0 : c0 + CH]
        # pooled buffers + in-place ops: same float ops in the same order
        # as `2 - 2*(P@S32)` (multiply then subtract, no FMA), zero fresh
        # large allocations per chunk (first-touch faults dominate here —
        # see _SCRATCH)
        # width baked into the key: np.matmul(out=) needs a C-contiguous
        # target, which a row-prefix slice only is at full trailing width
        s_n = S_xyz.shape[0]
        d2f = _scratch(f"fb_d2f_{s_n}", (len(r), s_n), np.float32)
        np.matmul(P[r].astype(np.float32), S32, out=d2f)
        np.multiply(d2f, np.float32(2.0), out=d2f)
        np.subtract(np.float32(2.0), d2f, out=d2f)
        work = _scratch(f"fb_work_{s_n}", d2f.shape, np.float32)
        np.copyto(work, d2f)
        arc = np.arange(len(r))
        kth32 = None
        for j in range(kk):
            jj = np.argmin(work, axis=1)
            kth32 = work[arc, jj]
            if j + 1 < kk:
                work[arc, jj] = np.inf
        mask = _scratch(f"fb_mask_{s_n}", d2f.shape, np.bool_)
        np.less_equal(d2f, (kth32 + _F32_MARGIN)[:, None], out=mask)
        mrows, mcols = np.nonzero(mask)
        pr = P[r[mrows]]
        sv = S_xyz[mcols]
        d2e = 2.0 - 2.0 * (
            pr[:, 0] * sv[:, 0] + pr[:, 1] * sv[:, 1] + pr[:, 2] * sv[:, 2]
        )
        order = np.lexsort((mcols, d2e, mrows))
        mr = mrows[order]
        starts = np.flatnonzero(np.r_[True, mr[1:] != mr[:-1]])
        rank = np.arange(len(mr)) - np.repeat(
            starts, np.diff(np.r_[starts, len(mr)])
        )
        keep = rank < kk
        out_idx[r[mr[keep]], rank[keep]] = mcols[order][keep].astype(
            np.float64
        )
        out_d2[r[mr[keep]], rank[keep]] = np.maximum(d2e[order][keep], 0.0)


def _safe_idx(i: Column) -> Column:
    """NaN-safe winner-index cast: NaN (no GPS) → NULL int (ANSI-proof)."""
    return F.when(~F.isnan(i), i).cast("int")


def _station_index(stations: DataFrame, k: int):
    """Collect the station dimension once and broadcast its kNN index.

    Returns (a broadcast of ``(s_xyz, s_ids, index, res_f)`` for
    :func:`topk_indexed_np`, the ``(_st_idx, station cols…)`` payload
    table for :func:`_with_station`, kk = min(k, |stations|)). Stations
    are sorted by id: the kernel's argmin tie rule (first occurrence ==
    smallest id) requires it, and the payload table enumerates the same
    order so ``_st_idx`` stays consistent.

    The payload table is built via a pandas DataFrame so createDataFrame
    takes the Arrow path — the row-tuple path re-serializes every row
    through the Python RDD pickler and measured 0.47-0.72 s per query at
    1000 stations vs 0.16-0.23 s via Arrow (r7 kNN-core attribution)."""
    spark = stations.sparkSession
    st_rows = stations.collect()  # dim-table collect == broadcast data motion
    st_rows.sort(key=lambda r: r["station_id"])
    s_lat = np.array([r["st_lat"] for r in st_rows], dtype=np.float64)
    s_lon = np.array([r["st_lon"] for r in st_rows], dtype=np.float64)
    s_ids = np.array([r["station_id"] for r in st_rows], dtype=np.int64)
    s_xyz = _unit_xyz(s_lat, s_lon)  # (S, 3)
    index, res_f = build_knn_index(
        s_lat, s_lon, s_xyz, k, INDEX_RES, INDEX_RING
    )
    bc = spark.sparkContext.broadcast((s_xyz, s_ids, index, res_f))
    pdf = pd.DataFrame([tuple(r) for r in st_rows], columns=stations.columns)
    pdf.insert(0, "_st_idx", np.arange(len(pdf), dtype=np.int32))
    payload = spark.createDataFrame(
        pdf,
        schema=(
            "_st_idx int, "
            + ", ".join(f"{c} {t}" for c, t in stations.dtypes)
        ),
    )
    return bc, payload, min(k, len(st_rows))


def _with_station(
    df: DataFrame, payload: DataFrame, winner: str, i: str, d: str, **cols
) -> DataFrame:
    """``df`` + ``dist_m`` (+ ``cols``) + the station payload of one
    winner: field ``i`` of struct column ``winner`` is its station
    position, field ``d`` its chord². ``winner`` is dropped; the payload
    comes back through one broadcast equi-join on ``_st_idx`` (no winner
    → NULL payload)."""
    w = F.col(winner)
    return (
        df.withColumns(
            {"_st_idx": _safe_idx(w[i]), "dist_m": _chord2_to_m(w[d]), **cols}
        )
        .drop(winner)
        .join(F.broadcast(payload), "_st_idx", "left")
        .drop("_st_idx")
    )


def _knn_arrow_idx(
    images: DataFrame,
    stations: DataFrame,
    k: int,
    lon: str,
    lat: str,
) -> tuple[DataFrame, DataFrame, int]:
    """(images + ``_knn_i`` struct<i0,d0,i1,d1,…> of winner positions and
    chord², the ``_st_idx``→station payload table (broadcastable, same
    ordering as the positions), kk = min(k, |stations|))."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    bc, payload, kk = _station_index(stations, k)

    # fixed-width struct i0,d0,i1,d1,… — returned as a pd.DataFrame of flat
    # float64 columns, the fastest Arrow path (per-row Python lists are
    # ~10× slower per batch; k is a plan-time constant so width is static)
    out_t = StructType(
        [
            f
            for j in range(kk)
            for f in (
                StructField(f"i{j}", DoubleType()),
                StructField(f"d{j}", DoubleType()),
            )
        ]
    )

    @F.pandas_udf(out_t)
    def _topk_idx(plat: pd.Series, plon: pd.Series) -> pd.DataFrame:
        S, ids, index, rf = bc.value
        lat_v = plat.to_numpy(np.float64, na_value=np.nan)
        lon_v = plon.to_numpy(np.float64, na_value=np.nan)
        idx, d2v = topk_indexed_np(lat_v, lon_v, S, ids, index, kk, rf)
        cols: dict[str, np.ndarray] = {}
        for j in range(kk):
            cols[f"i{j}"] = idx[:, j]
            cols[f"d{j}"] = d2v[:, j]
        return pd.DataFrame(cols)

    with_idx = images.withColumn("_knn_i", _topk_idx(F.col(lat), F.col(lon)))
    return with_idx, payload, kk


def knn_nearest(
    images: DataFrame,
    stations: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """images + nearest station payload columns + ``dist_m`` — the 1-NN
    shape the enrichment plan consumes. One Arrow map stage + one broadcast
    equi-join (codegen); nothing shuffles."""
    with_idx, payload, _ = _knn_arrow_idx(images, stations, 1, lon, lat)
    return _with_station(with_idx, payload, "_knn_i", "i0", "d0")


#: fixed columns of the packed observation dimension (struct-of-arrays);
#: payload columns ride as ``_obsv_<name>`` arrays alongside these
PACKED_OBS_V2_COLS = ("station_id", "_obs_lo", "_obs_hi", "_obs_dense",
                      "_obs_days")


def pack_observations_columnar(
    observations: DataFrame,
    date_col: str = "weather_historical_date",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate a (station_id, date)-keyed observation dimension into ONE
    row per station, the packed build side :func:`packed_obs_lookup`
    broadcasts. A production pipeline can build it once (persist / write
    as a materialized dim table) and hand it to every dated consumer via
    ``packed_obs=`` instead of re-aggregating per query.

    Schema: ``PACKED_OBS_V2_COLS`` + one ``_obsv_<col>`` primitive array
    per payload column, all date-sorted. Primitive arrays cost 8 B per
    double with one header per station; an array of payload structs costs
    ~48 B per observation in the broadcast hash relation (1.2 GB at the
    10k-station × 2557-day shape), so this layout broadcasts ~3× smaller.

    - ``_obs_dense`` ⇔ one entry per consecutive day AND no duplicate
      dates (a duplicated date would satisfy the size == span test alone
      while shifting indexes). The distinct count is computed on the
      packed array in the same projection rather than countDistinct in
      the agg, whose distinct-rewrite would add a second exchange.
    - ``_obs_days`` (int day offsets from ``_obs_lo``) is NULL for dense
      stations — the lookup indexes by ``datediff(date, _obs_lo)``
      directly; other stations use array_position over ``_obs_days``.
    - NULL-dated rows are dropped (they can never match the equi-join
      key, and a NULL inside the arrays would shift every dense index).

    ``payload_cols``: the payload columns to pack (default: every non-key
    column). Broadcast bytes scale with |payload|, and a wide observation
    table (the reference's JSONB rows carry full METAR records) packs 10×
    smaller when the query needs 3 fields. ``[]`` packs only the
    date-presence dimension (no ``_obsv_`` columns)."""
    payload = (
        payload_cols
        if payload_cols is not None
        else [
            c
            for c in observations.columns
            if c not in ("station_id", date_col)
        ]
    )
    if "d" in payload:
        raise ValueError(
            "pack_observations_columnar reserves the struct field name 'd' "
            "for the observation date; rename the payload column 'd' first"
        )
    missing = [c for c in payload if c not in observations.columns]
    if missing:
        raise ValueError(f"payload_cols not in observations: {missing}")
    packed = (
        observations.filter(F.col(date_col).isNotNull())
        .groupBy("station_id")
        .agg(
            F.min(date_col).alias("_obs_lo"),
            F.max(date_col).alias("_obs_hi"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(date_col).alias("d"),
                        *[F.col(c) for c in payload],
                    )
                )
            ).alias("_e"),
        )
    )
    n_dates = F.size(
        F.array_distinct(F.transform(F.col("_e"), lambda e: e["d"]))
    )
    dense = (
        F.size("_e") == F.datediff("_obs_hi", "_obs_lo") + F.lit(1)
    ) & (n_dates == F.size("_e"))
    return packed.select(
        "station_id",
        "_obs_lo",
        "_obs_hi",
        dense.alias("_obs_dense"),
        F.when(
            ~dense,
            F.transform(
                F.col("_e"),
                lambda e: F.datediff(e["d"], F.col("_obs_lo")).cast("int"),
            ),
        ).alias("_obs_days"),
        *[_field_array(c) for c in payload],
    )


def _field_array(cname: str):
    """array of one struct field over ``_e`` — a closure factory because
    F.transform treats a 2-arg lambda as (element, index), so the usual
    ``lambda e, c=c:`` default-arg capture cannot be used here."""
    return F.transform(F.col("_e"), lambda e: e[cname]).alias(
        f"_obsv_{cname}"
    )


def nearest_station_dated(
    images: DataFrame,
    stations: DataFrame,
    observations: DataFrame | None = None,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "captured_at",
    broadcast_obs: bool = True,
    packed_obs: DataFrame | None = None,
) -> DataFrame:
    """Composite spatio-temporal weather join: nearest station *spatially*,
    then the station's observation for the capture date (reference's
    `weather_historical_date DATE` + JSONB payload,
    scripts/create-tables.sql:129-132).

    images + nearest-station payload + dist_m + weather_historical_date +
    obs_* columns. Plan: one Arrow 1-NN map stage (:func:`knn_nearest`),
    then :func:`attach_observations` with exactly one of
    ``observations``/``packed_obs`` (strategies and ``broadcast_obs``
    there).

    ``observations`` are first cut to the probe's [min, max] capture-date
    span — dates outside it can never match the LEFT join key, so the cut
    is exact while shrinking the build side by the temporal-span ratio.
    The span is attached LAZILY (a broadcast 1-row (min, max) aggregate
    of the probe's ts column, crossJoined and filtered per obs row), so
    building the DataFrame runs NO job and the cost stays inside the
    query's own execution. An empty probe yields NULL bounds → an empty
    build side, which the LEFT join absorbs."""
    if observations is not None:
        span = images.select(
            F.min(F.to_date(F.col(ts))).alias("_span_lo"),
            F.max(F.to_date(F.col(ts))).alias("_span_hi"),
        )
        observations = (
            observations.withColumnRenamed("obs_date", "weather_historical_date")
            .crossJoin(F.broadcast(span))
            .filter(
                F.col("weather_historical_date").between(
                    F.col("_span_lo"), F.col("_span_hi")
                )
            )
            .drop("_span_lo", "_span_hi")
        )
    probe = knn_nearest(images, stations, lon=lon, lat=lat).withColumn(
        "weather_historical_date", F.to_date(F.col(ts))
    )
    return attach_observations(probe, observations, packed_obs, broadcast_obs)


def attach_observations(
    probe: DataFrame,
    observations: DataFrame | None = None,
    packed_obs: DataFrame | None = None,
    broadcast_obs: bool = True,
) -> DataFrame:
    """LEFT-attach the dated observation payload to a ``probe`` that has
    ``station_id`` and ``weather_historical_date`` — the one place the
    dated-weather strategy is chosen (``plans.enrich`` and
    :func:`nearest_station_dated` both call it). Give exactly one of:

    - ``observations``: the row-level dimension, its date column renamed
      to the probe's key: (station_id, weather_historical_date, payload…).
    - ``packed_obs``: a pre-built :func:`pack_observations_columnar` dim.
      The pack build is a full shuffle + agg of the observation table; a
      pipeline running several dated consumers (flagship enrich, the
      dated join, any rollup) builds it once, persists it and passes it
      here, so each consumer starts at the broadcast.

    ``broadcast_obs=True`` (default): the observations are packed into
    one row per station (inline from ``observations`` when no
    ``packed_obs`` is given) and read by :func:`packed_obs_lookup` — a
    broadcast hash relation of |stations| keys instead of |stations| ×
    |days|. Exact: dense stations index directly; stations with gaps or
    duplicate dates take an exact lookup of their own date offsets. The
    one divergence from a row-level join is duplicate (station_id, date)
    keys: the row join emits one output row per duplicate, the pack the
    first in (date, payload) sort order — a violation of the reference's
    PK either way; hence the two sources are never mixed.

    ``broadcast_obs=False`` (planetary observation dims, |stations|×|days|
    up to 1e9 rows): a row-level equi-join on the composite (station_id,
    date) key, left to AQE. Dates and station ids are both uniform, so
    that shuffle is skew-free; a station-keyed packed shuffle would
    co-locate all of a hot station's probes on one task, hence
    ``packed_obs`` requires the broadcast."""
    if (observations is None) == (packed_obs is None):
        raise ValueError(
            "dated weather needs exactly one of observations= (row-level "
            "dim) or packed_obs= (pre-built pack_observations_columnar "
            "output)"
        )
    if packed_obs is not None and not broadcast_obs:
        raise ValueError(
            "packed_obs requires broadcast_obs=True — the shuffle path "
            "joins on the skew-free (station_id, date) composite key and "
            "must not co-locate a station's whole history on one task"
        )
    if packed_obs is not None:
        return packed_obs_lookup(probe, packed_obs)
    if broadcast_obs:
        return packed_obs_lookup(probe, pack_observations_columnar(observations))
    return probe.join(
        observations, ["station_id", "weather_historical_date"], "left"
    )


def packed_obs_lookup(
    probe: DataFrame,
    packed: DataFrame,
    date_col: str = "weather_historical_date",
) -> DataFrame:
    """LEFT-attach the packed per-station observation payload for
    ``probe[date_col]``: a broadcast hash join on station_id (|stations|
    keys — NOT |stations|×|days|) followed by an O(1) array-index lookup
    when the station's dates are dense, or an array_position over its
    date offsets otherwise. :func:`attach_observations` calls it for every
    broadcast dated consumer, so one persisted
    :func:`pack_observations_columnar` dim serves them all.

    Returns probe columns + one column per ``_obsv_<name>`` array, named
    ``<name>``; any other column of ``packed`` is projected away before
    the broadcast. Per (station, date) the value is the first entry in
    (date, payload) sort order; probes whose date misses (a gap, outside
    the span, a station without observations) get NULL payloads exactly
    like a row-level LEFT equi-join."""
    missing = [c for c in PACKED_OBS_V2_COLS if c not in packed.columns]
    if missing:
        raise ValueError(
            f"packed dim lacks {missing} — build it with "
            "pack_observations_columnar"
        )
    payload = [c[len("_obsv_"):] for c in packed.columns
               if c.startswith("_obsv_")]
    packed = packed.select(
        *PACKED_OBS_V2_COLS, *[f"_obsv_{c}" for c in payload]
    )
    reserved = (set(packed.columns) - {"station_id"}) | {"_obs_pos"}
    clash = reserved & set(probe.columns)
    if clash:
        raise ValueError(
            f"packed_obs_lookup reserves temp column names "
            f"{sorted(reserved)}; probe already has {sorted(clash)} — "
            "rename them first"
        )
    out = probe.join(F.broadcast(packed), "station_id", "left")
    idx = F.datediff(F.col(date_col), F.col("_obs_lo"))
    # F.get returns NULL out-of-bounds/negative (never throws under ANSI)
    # → out-of-span dates resolve to NULL payloads exactly like the
    # row-level LEFT join. Sparse stations: array_position's
    # FIRST-occurrence rule == first in date-sorted order.
    pos = F.when(
        F.col("_obs_dense"), idx
    ).otherwise(
        F.array_position(F.col("_obs_days"), idx).cast("int") - F.lit(1)
    )
    keep = [c for c in out.columns if c not in reserved]
    out = out.withColumn("_obs_pos", pos)
    return out.select(
        *keep,
        *[
            F.get(F.col(f"_obsv_{c}"), F.col("_obs_pos")).alias(c)
            for c in payload
        ],
    )


def knn_station_join(
    images: DataFrame,
    stations: DataFrame,
    k: int = 3,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Exploded row shape: one row per (image, rank≤k) with station columns
    + dist_m + rank; probes without GPS emit no rows. Arrow top-k →
    explode → broadcast payload join on ``_st_idx`` — all map stages, no
    probe shuffle."""
    with_idx, payload, kk = _knn_arrow_idx(images, stations, k, lon, lat)
    # fixed-width struct → one row per rank (JVM-side unpack, pure codegen)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j + 1).alias("rank"),
                F.col("_knn_i")[f"i{j}"].alias("i"),
                F.col("_knn_i")[f"d{j}"].alias("d"),
            )
            for j in range(kk)
        ]
    )
    exploded = with_idx.select(
        *images.columns, F.explode(pairs).alias("_p")
    ).filter(
        # GPS-less probes have no winners — they emit no rows
        _safe_idx(F.col("_p")["i"]).isNotNull()
    ).withColumn("rank", F.col("_p")["rank"].cast("int"))
    joined = _with_station(exploded, payload, "_p", "i", "d")
    return joined.select(
        *images.columns,
        "rank",
        "station_id",
        *[c for c in stations.columns if c != "station_id"],
        "dist_m",
    )
