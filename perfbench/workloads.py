"""The four workloads. Each one receives only inputs generated from the seed.

A workload has:

- ``generate(rng, work)``: write the inputs, return their properties;
- ``prepare(spark)``: per-session handles on the inputs (lazy reads);
- ``rep(spark, tracer)``: one operation — the job as a user runs it;
  returns what ``check_rep`` needs;
- ``check_rep(out)``: cheap per-rep output check (run outside the timing);
- ``check_values(spark, out)``: the sampled value check, run once;
- ``wrap(tracer)``: traced run only — span the package's public functions
  the rep calls indirectly;
- ``probe(spark, tracer)``: traced run only — direct per-layer calls
  (prefix ladders, kernel calls) after the timed reps;
- ``layers(ev, reps, probe_spans)``: per-layer metrics from the event log.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

SAMPLE = 200  # rows per sampled value check


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _med(xs):
    return statistics.median(xs) if xs else None


def _timed(fn, n: int = 3) -> float:
    """Median wall of ``n`` calls."""
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _each(spans, name: str) -> list[set[str]]:
    """One span-id set per span called ``name`` (one per rep)."""
    return [{str(s["id"])} for s in spans if s["name"] == name]


def _span_wall(spans, name: str) -> float | None:
    return _med([s["end"] - s["start"] for s in spans if s["name"] == name])


class Workload:
    name = ""
    rows = 0

    def __init__(self, rng, work: str):
        self.rng = rng
        self.work = work
        self.sample_rng = np.random.default_rng(rng.integers(2**32))
        self.props = self.generate()

    def wrap(self, tracer) -> None:
        pass

    def probe(self, spark, tracer) -> dict:
        return {}

    def layers(self, ev, reps: list, spans: list) -> dict:
        return {}


# ---------------------------------------------------------------------------

class CliBatch(Workload):
    """The shipped CLI batch job, run in-process."""

    name = "cli_batch"

    def generate(self):
        self.paths, props = gen.cli_batch(self.rng, self.work)
        self.rows = props["orders"]
        self.out_dir = os.path.join(self.work, "cli_out")
        return props

    def prepare(self, spark) -> None:
        pass

    def rep(self, spark, tracer):
        from tiff_enrichment_pipeline_spark.__main__ import main

        buf = io.StringIO()
        with tracer.span("cli.main"), contextlib.redirect_stdout(buf):
            rc = main([self.paths["sf_dir"], self.out_dir])
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        return {"rc": rc, "summary": summary}

    def written(self) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(os.path.join(self.out_dir, "enriched")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size

    def check_rep(self, out) -> list[str]:
        counts = oracle.cli_counts(self.out_dir)
        counts["cli_summary"] = out["summary"]["enriched_rows"]
        errs = [f"{k}={v} != input rows {self.rows}"
                for k, v in counts.items() if v != self.rows]
        if out["rc"] != 0:
            errs.append(f"exit code {out['rc']}")
        files, size = self.written()
        out["files"], out["bytes"] = files, size
        return errs

    def check_values(self, spark, out) -> list[str]:
        images, stations = oracle.cli_tables(self.paths["sf_dir"])
        ids = self.sample_rng.choice(images["image_id"].to_numpy(),
                                     min(SAMPLE, len(images)), replace=False)
        pts = images[images["image_id"].isin(ids)]
        got = oracle.cli_sample(self.out_dir, ids.tolist())
        from tiff_enrichment_pipeline_spark import geotables as gt

        weather_of = oracle.weather_by_day(
            np.datetime64(gt.OBS_START),
            int((np.datetime64(gt.OBS_END) - np.datetime64(gt.OBS_START)).astype(int)) + 1,
        )
        return oracle.check_enriched(got, pts, stations, weather_of)

    def wrap(self, tracer) -> None:
        from tiff_enrichment_pipeline_spark import geotables, health
        from tiff_enrichment_pipeline_spark.operators import lineage
        from tiff_enrichment_pipeline_spark.plans import enrich
        from tiff_enrichment_pipeline_spark.sources import images

        tracer.wrap(health, "preflight", "health.preflight")
        for fn in ("images_geo", "stations", "weather_observations",
                   "landcover_polygons"):
            tracer.wrap(geotables, fn, "geotables.plan")
        tracer.wrap(enrich, "enrich", "plans.enrich.build")
        tracer.wrap(images, "write_images", "sources.images.write")
        tracer.wrap(images, "read_images", "sources.images.readback")
        tracer.wrap(lineage.RunRecorder, "finish", "operators.lineage.finish")

    def layers(self, ev, reps, spans) -> dict:
        out = {
            "sources.images.files_written": _med([r["files"] for r in reps]),
            "sources.images.bytes_written": _med([r["bytes"] for r in reps]),
            "sources.images.bytes_per_row": _med([r["bytes"] / self.rows for r in reps]),
        }
        for name in ("plans.enrich.build", "sources.images.write",
                     "sources.images.readback", "operators.lineage.finish",
                     "health.preflight"):
            out[f"{name}_s"] = _span_wall(spans, name)
        return out


# ---------------------------------------------------------------------------

class EnrichNoop(Workload):
    """plans.enrich.enrich with packed dated weather, to a noop sink."""

    name = "enrich_noop"

    def generate(self):
        self.paths, props = gen.enrich_noop(self.rng, self.work)
        self.rows = props["images"]
        return props

    def prepare(self, spark) -> None:
        from tiff_enrichment_pipeline_spark import geotables
        from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df

        self.images = spark.read.parquet(self.paths["images"])
        self.stations = spark.read.parquet(self.paths["stations"])
        self.packed = spark.read.parquet(self.paths["packed_obs"])
        self.landcover = geotables.landcover_polygons(spark)
        self.dem = dem_tiles_df(spark)

    def build(self):
        from tiff_enrichment_pipeline_spark.plans.enrich import enrich

        return enrich(self.images, landcover=self.landcover,
                      stations=self.stations, dem_tiles=self.dem,
                      packed_obs=self.packed)

    def rep(self, spark, tracer):
        with tracer.span("plans.enrich.build"):
            df = self.build()
        with tracer.span("sink.noop"):
            _noop(df)
        return df

    def check_rep(self, out) -> list[str]:
        return []

    def check_values(self, spark, out) -> list[str]:
        pdf = pq.read_table(self.paths["images"]).to_pandas()
        ids = self.sample_rng.choice(pdf["image_id"].to_numpy(), SAMPLE, replace=False)
        pts = pdf[pdf["image_id"].isin(ids)]
        got = out.filter(out.image_id.isin([int(i) for i in ids])).toPandas()
        stations = pq.read_table(self.paths["stations"]).to_pandas()
        return oracle.check_enriched(
            got, pts, stations, oracle.weather_by_day(gen.OBS_LO, gen.OBS_DAYS)
        )

    def probe(self, spark, tracer) -> dict:
        """Prefix ladder to noop, then direct kernel calls."""
        from pyspark.sql import functions as F

        from tiff_enrichment_pipeline_spark import grid
        from tiff_enrichment_pipeline_spark.functions.geo import gps_valid
        from tiff_enrichment_pipeline_spark.operators.geo_arrow import (
            fused_station_dem_lookup,
        )
        from tiff_enrichment_pipeline_spark.operators.knn_join import packed_obs_lookup
        from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join

        def scan():
            return self.images

        def cells():
            g = self.images.filter(gps_valid(F.col("lat"), F.col("lon")))
            return (g.withColumn("cell_r7", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES7))
                    .withColumn("cell_r9", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES9)))

        def pip():
            return landcover_pip_join(cells(), self.landcover, res=grid.RES8)

        def geo():
            return fused_station_dem_lookup(pip(), self.stations, self.dem)

        def obs():
            g = geo().withColumn("weather_historical_date", F.to_date(F.col("captured_at")))
            return packed_obs_lookup(g, self.packed)

        ladder = [("scan", scan), ("grid.cells", cells),
                  ("operators.pip_join.fast", pip), ("operators.geo_arrow", geo),
                  ("operators.knn_join.packed_obs", obs)]
        walls = {}
        for name, fn in ladder:
            with tracer.span(f"ladder.{name}"):
                walls[name] = _timed(lambda: _noop(fn()))
        # each step's increment over the previous prefix
        out = {"ladder.scan_s": walls["scan"]}
        names = [n for n, _ in ladder]
        for a, b in zip(names, names[1:]):
            key = "operators.geo_arrow.s" if b == "operators.geo_arrow" else f"{b}_s"
            out[key] = walls[b] - walls[a]
        out.update(self._kernels())
        return out

    def _kernels(self) -> dict:
        """Direct kernel calls on the workload's own points."""
        from tiff_enrichment_pipeline_spark import grid
        from tiff_enrichment_pipeline_spark.geotables import DEM_TILE_DEG
        from tiff_enrichment_pipeline_spark.operators.elevation import (
            _bilinear_gather,
            _broadcast_grid_stack,
            _tile_indices,
        )
        from tiff_enrichment_pipeline_spark.operators.knn_join import (
            build_knn_index,
            topk_indexed_np,
        )

        st = pq.read_table(self.paths["stations"]).to_pandas().sort_values("station_id")
        s_lat, s_lon = st["st_lat"].to_numpy(), st["st_lon"].to_numpy()
        s_ids = st["station_id"].to_numpy()
        rp, rl = np.radians(s_lat), np.radians(s_lon)
        s_xyz = np.stack([np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], 1)
        t0 = time.perf_counter()
        index, res_f = build_knn_index(s_lat, s_lon, s_xyz, 1, 10, 2)
        out = {
            "operators.knn_join.index_build_s": time.perf_counter() - t0,
            "operators.knn_join.index_cells": len(index),
            "operators.knn_join.index_entries": int(sum(len(v) for v in index.values())),
        }
        im = pq.read_table(self.paths["images"], columns=["lon", "lat"]).to_pandas()
        im = im.dropna()
        lon, lat = im["lon"].to_numpy(), im["lat"].to_numpy()
        covered = np.isin(grid.cell_of_np(lon, lat, res_f), np.fromiter(index, np.int64))
        out["operators.knn_join.fallback_frac"] = float(1.0 - covered.mean())
        for tag, m in (("covered", covered), ("fallback", ~covered)):
            if m.any():
                a, b = lat[m], lon[m]
                dt = _timed(lambda: topk_indexed_np(a, b, s_xyz, s_ids, index, 1, res_f))
                out[f"operators.knn_join.topk_{tag}_us_per_row"] = dt / len(a) * 1e6
        # bilinear gather over the on-DEM points, with the broadcast stack
        stack, map2d, tx0, ty0 = _broadcast_grid_stack(self.dem).value
        tx = np.floor(lon / DEM_TILE_DEG).astype(np.int64)
        ty = np.floor(lat / DEM_TILE_DEG).astype(np.int64)
        tidx = _tile_indices(map2d, tx0, ty0, tx, ty, np.ones(len(lon), bool))
        on = tidx >= 0
        dt = _timed(lambda: _bilinear_gather(stack, tidx[on], lon[on], lat[on], tx[on], ty[on]))
        out["operators.elevation.bilinear_us_per_row"] = dt / max(1, int(on.sum())) * 1e6
        return out

    def layers(self, ev, reps, spans) -> dict:
        out = {"plans.enrich.build_s": _span_wall(spans, "plans.enrich.build"),
               "sink.noop_s": _span_wall(spans, "sink.noop")}
        sinks = _each(spans, "sink.noop")
        per = [ev.summary(i) for i in sinks]
        if per:
            out["operators.geo_arrow.py_worker_s"] = _med([p["python.worker_s"] for p in per])
            out["operators.geo_arrow.arrow_sent_mb"] = _med([p["python.arrow_sent_mb"] for p in per])
            out["operators.geo_arrow.arrow_returned_mb"] = _med(
                [p["python.arrow_returned_mb"] for p in per])
            # the packed dim is the broadcast with one row per station
            n_st = self.props["stations"]
            bmb = [max(ev.broadcast_mb(i, min_rows=n_st) or [0.0]) for i in sinks]
            out["operators.knn_join.packed_obs_broadcast_mb"] = _med(bmb)
        return out


# ---------------------------------------------------------------------------

class SpatialOps(Workload):
    """The general paths of the geo operator modules."""

    name = "spatial_ops"
    RADIUS_M = 25_000.0

    def generate(self):
        self.paths, props = gen.spatial_ops(self.rng, self.work)
        self.rows = props["probes"]
        return props

    def prepare(self, spark) -> None:
        from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df

        self.probes = spark.read.parquet(self.paths["probes"])
        self.polygons = spark.read.parquet(self.paths["polygons"])
        self.stations = spark.read.parquet(self.paths["stations"])
        self.obs = spark.read.parquet(self.paths["observations"])
        self.dem = dem_tiles_df(spark)

    def jobs(self):
        from tiff_enrichment_pipeline_spark import grid
        from tiff_enrichment_pipeline_spark.operators.distance_join import within_distance_join
        from tiff_enrichment_pipeline_spark.operators.elevation import elevation_join, terrain_join
        from tiff_enrichment_pipeline_spark.operators.knn_join import nearest_station_dated
        from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join

        return [
            ("operators.pip_join.general", lambda: landcover_pip_join(
                self.probes, self.polygons, res=grid.RES7,
                rects_only_nonoverlapping=False)),
            ("operators.distance_join", lambda: within_distance_join(
                self.probes, self.stations, self.RADIUS_M)),
            ("operators.knn_join.dated", lambda: nearest_station_dated(
                self.probes, self.stations, observations=self.obs)),
            ("operators.elevation.salted", lambda: elevation_join(
                self.probes, self.dem, broadcast_dem=False)),
            ("operators.elevation.terrain", lambda: terrain_join(self.probes, self.dem)),
        ]

    def rep(self, spark, tracer):
        out = {}
        for name, build in self.jobs():
            with tracer.span(name):
                df = build()
                _noop(df)
            out[name] = df
        return out

    def check_rep(self, out) -> list[str]:
        return []

    def check_values(self, spark, out) -> list[str]:
        probes = pq.read_table(self.paths["probes"]).to_pandas()
        ids = self.sample_rng.choice(probes["image_id"].to_numpy(), SAMPLE, replace=False)
        pts = probes[probes["image_id"].isin(ids)]
        id_list = [int(i) for i in ids]

        def got(name, *cols):
            df = out[name]
            return df.filter(df.image_id.isin(id_list)).select(*cols).toPandas()

        polys = pq.read_table(self.paths["polygons"]).to_pandas()
        stations = pq.read_table(self.paths["stations"]).to_pandas()
        errs = oracle.check_pip(got("operators.pip_join.general", "image_id", "polygon_id"),
                                pts, polys)
        errs += oracle.check_radius(got("operators.distance_join", "image_id", "station_id"),
                                    pts, stations, self.RADIUS_M)
        errs += oracle.check_dated(
            got("operators.knn_join.dated", "image_id", "station_id", "obs_temp_c",
                "obs_wind_ms", "obs_precip_mm"), pts, stations)
        errs += oracle.check_elevation(
            got("operators.elevation.salted", "image_id", "elevation"), pts,
            got("operators.elevation.terrain", "image_id", "slope_deg", "hillshade"))
        return errs

    def probe(self, spark, tracer) -> dict:
        """The inline observation pack, built alone."""
        from tiff_enrichment_pipeline_spark.operators.knn_join import (
            pack_observations_columnar,
        )

        obs = self.obs.withColumnRenamed("obs_date", "weather_historical_date")
        with tracer.span("probe.pack_build"):
            t = _timed(lambda: _noop(pack_observations_columnar(obs)))
        return {"operators.knn_join.pack_build_s": t}

    def layers(self, ev, reps, spans) -> dict:
        out = {}
        for name, key in (("operators.pip_join.general", "operators.pip_join.general_s"),
                          ("operators.distance_join", "operators.distance_join.s"),
                          ("operators.knn_join.dated", "operators.knn_join.dated_s"),
                          ("operators.elevation.salted", "operators.elevation.salted_s"),
                          ("operators.elevation.terrain", "operators.elevation.terrain_s")):
            out[key] = _span_wall(spans, name)
        n = self.rows
        valid = n - self.props["share_null"] * n
        pip = _each(spans, "operators.pip_join.general")
        if pip:
            cand = _med([ev.rows(i, "BroadcastHashJoin", "Inner") for i in pip])
            passed = _med([ev.rows(i, "Filter", above="ArrowEvalPython") for i in pip])
            out["operators.pip_join.candidates_per_probe"] = cand / valid
            out["operators.pip_join.refine_pass_frac"] = passed / cand if cand else None
            out["operators.pip_join.py_worker_s"] = _med(
                [ev.summary(i)["python.worker_s"] for i in pip])
        dj = _each(spans, "operators.distance_join")
        if dj:
            cand = _med([ev.rows(i, "BroadcastHashJoin", "Inner") for i in dj])
            pairs = _med([ev.rows(i, "Filter") for i in dj])
            out["operators.distance_join.pairs_out"] = pairs
            out["operators.distance_join.refine_pass_frac"] = pairs / cand if cand else None
        return out


# ---------------------------------------------------------------------------

class CuratePayloads(Workload):
    """Quarantine, decode, resize+features, band stats, cosine top-k."""

    name = "curate_payloads"
    SIZE = 32
    K = 5

    def generate(self):
        self.paths, props, self.truth, self.emb = gen.curate_payloads(self.rng, self.work)
        self.rows = props["payloads"]
        return props

    def prepare(self, spark) -> None:
        self.payloads = spark.read.parquet(self.paths["payloads"])
        self.corpus = spark.read.parquet(self.paths["corpus"])
        self.queries = spark.read.parquet(self.paths["queries"])

    def rep(self, spark, tracer):
        from pyspark.sql import functions as F

        from tiff_enrichment_pipeline_spark.operators.ann import brute_force_topk
        from tiff_enrichment_pipeline_spark.raster.multimodal import (
            band_pixel_stats,
            resize_and_extract,
        )
        from tiff_enrichment_pipeline_spark.raster.udfs import decode_status

        p = self.payloads
        st = p.withColumn("decode_status", decode_status("bytes", "w", "h", "fmt"))
        with tracer.span("raster.udfs.decode_status"):
            counts = {r["decode_status"]: r["count"]
                      for r in st.groupBy("decode_status").count().collect()}
        ok = st.filter(F.col("decode_status") == "ok")
        with tracer.span("raster.multimodal.resize_extract"):
            feats = resize_and_extract(ok, self.SIZE, self.SIZE)
            _noop(feats)
        with tracer.span("raster.multimodal.band_stats"):
            stats = band_pixel_stats(ok.withColumn("image_id", F.col("image_id").cast("string")))
            _noop(stats)
        with tracer.span("operators.ann.topk"):
            topk = brute_force_topk(self.queries, self.corpus, k=self.K)
            _noop(topk)
        return {"counts": counts, "feats": feats, "stats": stats, "topk": topk}

    def check_rep(self, out) -> list[str]:
        bad = sum(v for k, v in out["counts"].items() if k != "ok")
        if bad != self.props["corrupt"]:
            return [f"quarantined {out['counts']} != injected {self.props['corrupt']}"]
        return []

    def _pixels(self, iid: int):
        from tiff_enrichment_pipeline_spark.raster import codec

        kind, band = self.truth[iid]
        px = gen.known_pixels(kind, band)
        if px is None:  # jpeg: the decoder's own output is the reference
            b, fmt = gen.encode(kind, band)
            px = codec.decode(b, gen.BAND, gen.BAND, fmt)
        return px

    def check_values(self, spark, out) -> list[str]:
        from pyspark.sql import functions as F

        good = [i for i, (_, b) in self.truth.items() if b is not None]
        ids = [int(i) for i in self.sample_rng.choice(good, min(SAMPLE, len(good)),
                                                      replace=False)]
        feats = out["feats"].filter(F.col("image_id").isin(ids)).toPandas()
        stats = out["stats"].filter(F.col("image_id").isin([str(i) for i in ids])).toPandas()
        errs = []
        if len(feats) != len(ids) or len(stats) != len(ids):
            errs.append(f"sample rows: features {len(feats)}, stats {len(stats)}, want {len(ids)}")
        errs += oracle.check_curate(stats, feats, self._pixels, self.SIZE)
        e = self.emb
        qpick = self.sample_rng.choice(len(e["query_ids"]), 50, replace=False)
        qids = [int(q) for q in e["query_ids"][qpick]]
        topk = out["topk"].filter(F.col("vec_id").isin(qids)).select(
            "vec_id", "rank", "neighbor_id", "cosine").toPandas()
        errs += oracle.check_topk(topk, e["corpus"], e["corpus_ids"], e["queries"][qpick],
                                  e["query_ids"][qpick], self.K)
        return errs

    def probe(self, spark, tracer) -> dict:
        """Direct codec and batch-kernel calls on the generated payloads."""
        from tiff_enrichment_pipeline_spark.raster import codec
        from tiff_enrichment_pipeline_spark.raster.multimodal import (
            image_features_batch,
            resize_bilinear_batch,
        )

        tbl = pq.read_table(self.paths["payloads"]).to_pandas()
        out = {}
        stack = []
        for kind, grp in tbl.groupby("kind"):
            good = [(bytes(b), f) for i, b, f in zip(grp["image_id"], grp["bytes"], grp["fmt"])
                    if self.truth[int(i)][1] is not None]

            def dec():
                return [codec.decode(b, gen.BAND, gen.BAND, f) for b, f in good]

            arrs = dec()
            stack.extend(arrs)
            out[f"raster.codec.decode_us.{kind}"] = _timed(dec) / len(good) * 1e6
        stack = np.stack(stack)
        small = resize_bilinear_batch(stack, self.SIZE, self.SIZE)
        out["raster.multimodal.resize_us_per_image"] = _timed(
            lambda: resize_bilinear_batch(stack, self.SIZE, self.SIZE)) / len(stack) * 1e6
        out["raster.multimodal.features_us_per_image"] = _timed(
            lambda: image_features_batch(small)) / len(small) * 1e6
        return out

    def layers(self, ev, reps, spans) -> dict:
        out = {"raster.udfs.quarantined": _med(
            [sum(v for k, v in r["counts"].items() if k != "ok") for r in reps])}
        for name, key in (("raster.udfs.decode_status", "raster.udfs.decode_status_s"),
                          ("raster.multimodal.resize_extract", "raster.multimodal.resize_extract_s"),
                          ("raster.multimodal.band_stats", "raster.multimodal.band_stats_s"),
                          ("operators.ann.topk", "operators.ann.topk_s")):
            out[key] = _span_wall(spans, name)
        for name, prefix in (("raster.multimodal.resize_extract", "raster.multimodal"),
                             ("operators.ann.topk", "operators.ann")):
            per = [ev.summary(i) for i in _each(spans, name)]
            if per:
                out[f"{prefix}.py_worker_s"] = _med([p["python.worker_s"] for p in per])
                if prefix == "raster.multimodal":
                    out[f"{prefix}.arrow_sent_mb"] = _med([p["python.arrow_sent_mb"] for p in per])
        return out


class EngineOps(Workload):
    """enrich_noop, spatial_ops and curate_payloads run back to back as one
    operation: every engine layer outside the CLI's write and read path,
    behind one Spark start-up."""

    name = "engine_ops"
    PARTS = (EnrichNoop, SpatialOps, CuratePayloads)

    def generate(self):
        self.parts = []
        for cls in self.PARTS:
            sub = os.path.join(self.work, cls.name)
            os.makedirs(sub)
            self.parts.append(cls(np.random.default_rng(self.rng.integers(2**32)), sub))
        self.rows = sum(p.rows for p in self.parts)
        return {p.name: p.props for p in self.parts}

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def rep(self, spark, tracer):
        out = []
        for p in self.parts:
            with tracer.span(p.name):
                out.append(p.rep(spark, tracer))
        return out

    def check_rep(self, out) -> list[str]:
        return [f"{p.name}: {e}" for p, o in zip(self.parts, out) for e in p.check_rep(o)]

    def check_values(self, spark, out) -> list[str]:
        return [f"{p.name}: {e}" for p, o in zip(self.parts, out)
                for e in p.check_values(spark, o)]

    def probe(self, spark, tracer) -> dict:
        return {k: v for p in self.parts for k, v in p.probe(spark, tracer).items()}

    def layers(self, ev, reps, spans) -> dict:
        out = {}
        for i, p in enumerate(self.parts):
            out.update(p.layers(ev, [r[i] for r in reps], spans))
            out[f"{p.name}.rows_per_s"] = p.rows / _span_wall(spans, p.name)
        return out


WORKLOADS = {w.name: w for w in (CliBatch, EngineOps)}
#: spans that only group calls: their self time is driver glue
GLUE_SPANS = {"rep", "cli.main", *(p.name for p in EngineOps.PARTS)}
