"""Image-table source/sink with Iceberg-first, parquet-fallback negotiation.

BASELINE.json's canonical input is an Iceberg table of image+caption pairs
(input_hint schema). The engine is pure DataFrame code, so the storage
format only matters at the edges; this module keeps those edges in one
place (SURVEY.md §7.0):

- **Iceberg available** (``iceberg-spark-runtime`` jar + catalog conf):
  ``spark.read.table`` / ``writeTo(...).append()`` / MERGE INTO for
  retry-upsert; partition layout ``bucket(N, image_id)`` for uniform write
  distribution plus a coarse cell prefix column for geo partition pruning.
- **No Iceberg jar** (this sandbox): path-based parquet with the identical
  schema; MERGE emulated by left-anti ∪ new (operators/lineage.py), which
  tests pin (tests/test_sinks_reports.py::test_merge_upsert_on_retry).

Layout invariant either way: the ``bytes`` payload stays its own column so
column pruning keeps metadata/enrichment queries from touching pixels, and
binary-heavy tables are written with a row-group size that keeps a single
Arrow batch ≤ executor-memory budget.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, capture_id string, band int, "
    "lat double, lon double, alt double, captured_at timestamp"
)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_images(spark: SparkSession, location: str) -> DataFrame:
    """``location`` = Iceberg table name (catalog.db.table) or a parquet
    path — negotiated by what the runtime supports. Physical partition
    columns (``p_*``, written by write_images) are dropped so the logical
    schema is layout-independent; filters on lat/lon/image_id still prune
    because the p_* values are derived from them at write time."""
    if "/" not in location and iceberg_available(spark):
        return spark.read.table(location)
    df = spark.read.parquet(location)
    # exactly the layout columns write_images adds — never a prefix match
    # (a business column named e.g. p_hash must survive the round-trip)
    return df.drop(*[c for c in _LAYOUT_COLS if c in df.columns])


# coarse geo partition prefix: res-4 cell ≈ 22.5° — wide tiles keep
# directory count bounded (≤ buckets × ~128 populated cells worldwide)
# while still pruning continent-scale predicates
_PART_CELL_RES = 4
_LAYOUT_COLS = ("p_bucket", "p_cell")  # physical columns write_images adds


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` via the Hadoop FileSystem API —
    works on ANY configured scheme (local, hdfs, s3a, …), unlike shutil."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem API (any scheme)."""
    fs, p = hadoop_fs(spark, path)
    fs.delete(p, True)


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Path existence via the Hadoop FileSystem API (any scheme)."""
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _hadoop_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Directory rename via the Hadoop FileSystem API (metadata op on
    local/HDFS) — scheme-agnostic, unlike shutil.move which treats a
    ``file:/x`` URI as a relative OS path."""
    fs, s = hadoop_fs(spark, src)
    return fs.rename(s, spark._jvm.org.apache.hadoop.fs.Path(dst))


def _scheme_of(location: str) -> str | None:
    """URI scheme of ``location`` (``file``, ``hdfs``, ``s3a``, …) or None
    for a plain OS path. Handles both ``scheme://`` and the no-authority
    ``file:/x`` form; a Windows-style drive letter never matches because
    schemes must be ≥2 chars here."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]+):", location)
    return m.group(1).lower() if m else None


def _write_layout_meta(spark: SparkSession, location: str, buckets: int) -> None:
    """1-row parquet at ``<location>/_layout`` recording the bucket count.
    Underscore-prefixed paths are invisible to Spark's table file index, so
    reads of ``location`` never see it; upserts read it back to re-derive
    p_bucket with the ORIGINAL modulus (a different modulus would scatter a
    key's rows across bucket directories over successive merges).

    Built from an Arrow table, so Spark plans it as a LocalTableScan; a
    Python list would plan a Python RDD scan that starts a Python worker
    to write one row."""
    import pyarrow as pa

    layout = pa.table({"buckets": pa.array([int(buckets)], pa.int32())})
    spark.createDataFrame(layout, "buckets int").write.mode(
        "overwrite"
    ).parquet(f"{location}/_layout")


def _read_layout_meta(spark: SparkSession, location: str) -> int | None:
    try:
        return spark.read.parquet(f"{location}/_layout").first()["buckets"]
    except Exception:
        return None


def write_images(
    df: DataFrame,
    location: str,
    mode: str = "append",
    buckets: int = 16,
    partition: bool = True,
    cluster: str | None = None,
    cluster_partitions: int | None = None,
    coalesce_per_dir: bool = False,
    observe: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Write the image table with the layout the reads depend on at 100 TB:
    ``bucket(N, image_id)`` for uniform write distribution + a coarse cell
    prefix for geo partition pruning (SURVEY §7.0; reference keeps a flat
    PostGIS table, scripts/create-tables.sql:118-161 — bucketed layout is
    the Spark-native replacement).

    Iceberg: ``PARTITIONED BY (bucket(N, image_id))`` on create; appends
    inherit the table layout. Parquet fallback: derived physical columns
    ``p_bucket`` (pmod of xxhash64(image_id)) and, when lon/lat exist,
    ``p_cell`` (res-4 cell id) via ``partitionBy`` — read_images drops
    them again.

    ``cluster='zorder'``: range-partition + sort the rows by the Morton
    z-value of (lon, lat) before writing, so each parquet file/row-group
    covers a TIGHT lon/lat envelope and bbox predicates prune row groups
    at scan (the OPTIMIZE ZORDER pattern; the same trick Iceberg expresses
    as a sort order). ``cluster='hilbert'``: same mechanics on the
    Hilbert index (grid.with_hilbert) — consecutive curve positions are
    always grid-adjacent, so file envelopes are tighter than the
    z-curve's at its row-boundary jumps (what S2/DataBricks liquid
    clustering exploit). Orthogonal to the directory layout.

    ``observe``: applied to the rows exactly as written — above the
    clustering exchange, whose range sampling re-runs its input — so a
    ``DataFrame.observe`` it attaches (operators.lineage.observe_run)
    counts each written row once."""
    from pyspark.sql import functions as F

    spark = df.sparkSession

    def _as_written(d: DataFrame) -> DataFrame:
        d = _clustered(d)
        return observe(d) if observe is not None else d

    def _clustered(d: DataFrame) -> DataFrame:
        if cluster is None:
            return d
        if cluster not in ("zorder", "hilbert"):
            raise ValueError(f"unknown cluster strategy {cluster!r}")
        if "lon" not in d.columns or "lat" not in d.columns:
            raise ValueError(f"cluster={cluster!r} needs lon/lat columns")
        from tiff_enrichment_pipeline_spark import grid

        if cluster == "hilbert":
            z = grid.with_hilbert(d, out="_z")
        else:
            z = d.withColumn("_z", grid.zorder_of(F.col("lon"), F.col("lat")))
        # explicit count pins the file count (AQE coalesces an unsized
        # range shuffle of a small table down to one partition)
        ranged = (
            z.repartitionByRange(cluster_partitions, F.col("_z"))
            if cluster_partitions
            else z.repartitionByRange(F.col("_z"))
        )
        return ranged.sortWithinPartitions("_z").drop("_z")

    if "/" not in location and iceberg_available(spark):
        writer = _as_written(df).writeTo(location)
        if mode == "append":
            writer.append()
        else:
            if partition:
                writer = writer.partitionedBy(F.bucket(buckets, F.col("image_id")))
            writer.createOrReplace()
        return
    if not partition:
        _as_written(df).write.mode(mode).parquet(location)
        return
    from tiff_enrichment_pipeline_spark import grid

    # appends must honor the table's RECORDED bucket modulus — deriving
    # p_bucket from the call-site arg would scatter a key's rows across
    # bucket directories and break upsert_by_key's layout invariant
    recorded = _read_layout_meta(spark, location) if mode == "append" else None
    if recorded is not None and recorded != buckets:
        import warnings

        warnings.warn(
            f"write_images(append): requested buckets={buckets} != recorded "
            f"layout buckets={recorded} at {location}; using the recorded "
            "value (appends inherit the table layout)",
            stacklevel=2,
        )
        buckets = recorded
    out = _as_written(df).withColumn(
        "p_bucket", F.pmod(F.xxhash64(F.col("image_id")), F.lit(buckets))
    )
    part_cols = ["p_bucket"]
    if "lon" in df.columns and "lat" in df.columns:
        out = out.withColumn(
            "p_cell", grid.cell_of(F.col("lon"), F.col("lat"), _PART_CELL_RES)
        )
        part_cols.append("p_cell")
    if coalesce_per_dir:
        # compaction path: hash-shuffle rows onto their partition columns
        # so each directory's rows land in exactly one task → one file per
        # directory. Mutually exclusive with z-order clustering (the
        # shuffle would destroy the sort).
        if cluster is not None:
            raise ValueError("coalesce_per_dir and cluster are exclusive")
        out = out.repartition(*part_cols)
    out.write.mode(mode).partitionBy(*part_cols).parquet(location)
    # record the layout on create/overwrite, or on first append to a fresh
    # location; NEVER rewrite an existing record on append (the modulus is
    # an immutable property of the layout)
    if recorded is None:
        _write_layout_meta(spark, location, buckets)


def upsert_by_key(
    spark: SparkSession, target_location: str, updates: DataFrame, key: str
) -> None:
    """MERGE INTO semantics (reference retry-upsert, create-tables.sql:253).

    Iceberg: real ``MERGE INTO`` (atomic). Parquet fallback: left-anti ∪
    new + atomic-ish directory swap — adequate for checkpoint-resume where
    keys are deterministic surrogates (operators/lineage.surrogate_key)."""
    if "/" not in target_location and iceberg_available(spark):
        updates.createOrReplaceTempView("_updates")
        spark.sql(
            f"MERGE INTO {target_location} t USING _updates s "
            f"ON t.{key} = s.{key} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        return
    raw = spark.read.parquet(target_location)
    # preserve the physical layout: if the target was written partitioned
    # (write_images layout columns), the merged rewrite re-derives them via
    # write_images — otherwise one upsert would silently flatten the table
    # and kill partition pruning for every later read
    was_partitioned = any(c in _LAYOUT_COLS for c in raw.columns)
    # re-derive p_bucket with the ORIGINAL modulus (recorded at write time)
    # — a different modulus would scatter a key's rows across bucket
    # directories over successive merges
    buckets = _read_layout_meta(spark, target_location) or 16
    existing = raw.drop(*[c for c in _LAYOUT_COLS if c in raw.columns])
    merged = existing.join(updates.select(key), key, "left_anti").unionByName(
        updates
    )

    def _write(df: DataFrame, path: str) -> None:
        if was_partitioned and key == "image_id":
            write_images(df, path, mode="overwrite", buckets=buckets)
        else:
            df.write.mode("overwrite").parquet(path)

    _swap_rewrite(spark, target_location, merged, _write)


def _swap_rewrite(
    spark: SparkSession, target_location: str, df: DataFrame, write_fn
) -> None:
    """Rewrite a table that is the input of its own plan, safely.

    Shared by upsert_by_key and compact_images. Plain OS / file: paths:
    write to ``__merge_tmp`` then swap via two directory renames (cheap
    metadata ops through the Hadoop FS API — a Spark overwrite of the
    target would delete it before the rewrite, and a crash there loses the
    table). The window between the two renames is the only non-atomic
    instant; a crash there leaves the NEW table at ``__merge_tmp`` and the
    old one at ``__merge_old`` — recoverable, never lost (tmp is
    deliberately NOT cleaned up on failure for that reason). Object-store
    schemes (hdfs/s3a/…, where rename is not a metadata op): rewrite
    through a tmp read — 2× write I/O, tmp kept until the final write
    succeeds."""
    scheme = _scheme_of(target_location)
    if scheme is not None and scheme != "file":
        tmp = target_location.rstrip("/") + "__merge_tmp"
        write_fn(df, tmp)
        write_fn(spark.read.parquet(tmp), target_location)
        _hadoop_delete(spark, tmp)
        return

    tmp = target_location.rstrip("/") + "__merge_tmp"
    old = target_location.rstrip("/") + "__merge_old"
    _hadoop_delete(spark, tmp)
    write_fn(df, tmp)
    _hadoop_delete(spark, old)
    if not _hadoop_rename(spark, target_location, old):
        raise IOError(f"table swap: rename {target_location} -> {old} failed")
    if not _hadoop_rename(spark, tmp, target_location):
        raise IOError(
            f"table swap: rename {tmp} -> {target_location} failed; "
            f"previous table preserved at {old}"
        )
    _hadoop_delete(spark, old)


def _count_data_files(spark: SparkSession, location: str) -> int:
    """Recursive parquet data-file count via the Hadoop FS API."""
    fs, p = hadoop_fs(spark, location)
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        fp = f.getPath()
        name = fp.getName()
        # Hadoop hidden convention: _/. prefixed files AND directories
        # (e.g. the _layout metadata table) are not data files
        hidden = name.startswith(("_", "."))
        parent = fp.getParent()
        while not hidden and parent is not None and parent.getName():
            if parent.getName().startswith(("_", ".")):
                hidden = True
            parent = parent.getParent()
        if not hidden and name.endswith(".parquet"):
            n += 1
    return n


def compact_images(spark: SparkSession, location: str) -> dict:
    """Operational small-file compaction, layout-preserving.

    Every append to a partitioned table adds one file per (source
    partition × touched directory); after N appends a bucket directory
    holds N+ tiny files and scan task count explodes — the classic 100 TB
    small-file degradation (Iceberg calls the remedy ``rewrite_data_files``,
    Delta ``OPTIMIZE``). This rewrites the table through the same
    atomic-swap machinery as upsert_by_key with the rows re-hashed onto
    their partition columns first, so each directory lands in ONE task →
    one file per directory. Values, logical schema, bucket modulus, and
    directory layout are unchanged. Returns
    ``{"files_before": n, "files_after": m}``."""
    raw = spark.read.parquet(location)
    was_partitioned = any(c in _LAYOUT_COLS for c in raw.columns)
    buckets = _read_layout_meta(spark, location) or 16
    data = raw.drop(*[c for c in _LAYOUT_COLS if c in raw.columns])
    before = _count_data_files(spark, location)

    def _write(df: DataFrame, path: str) -> None:
        if was_partitioned:
            write_images(
                df, path, mode="overwrite", buckets=buckets,
                coalesce_per_dir=True,
            )
        else:
            df.coalesce(1).write.mode("overwrite").parquet(path)

    _swap_rewrite(spark, location, data, _write)
    return {
        "files_before": before,
        "files_after": _count_data_files(spark, location),
    }


# ---------------------------------------------------------------------------
# S6: GeoTIFF file sink — real .tif files per image, distributed write
# ---------------------------------------------------------------------------

GEOTIFF_MANIFEST_SCHEMA = (
    "image_id string, path string, nbytes long, sha256 string, "
    "georeferenced boolean"
)


def _attempt_id() -> int:
    """Task attempt id (0 on the driver) — the per-attempt uniqueness
    every scratch-file name needs under speculation/retries."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.taskAttemptId() if ctx is not None else 0


def export_geotiff(
    df: DataFrame,
    out_dir: str,
    *,
    compression: str = "deflate",
    rows_per_strip: int = 64,
    archive: str | None = None,
) -> DataFrame:
    """Write one real GeoTIFF file per image row (S6 — the reference's
    enriched-GeoTIFF output, src/pipeline/utils/rasterio_utils.py:235-255,
    done here with the pure-stdlib baseline encoder instead of rasterio).

    Input needs the payload columns (``image_id bytes w h fmt``) plus the
    GPS columns (``lat lon alt``). Rows with GPS get ModelPixelScale /
    ModelTiepoint / GeoKeyDirectory(EPSG:4326) tags derived from the same
    camera model as ``functions.geo.pixel_size_deg`` + ``affine_from_center``
    (west/north = image-center GPS minus half the pixel extent); no-GPS rows
    get a plain baseline TIFF. Returns a LAZY manifest DataFrame
    ``image_id path nbytes sha256 georeferenced`` — consuming it (collect /
    write) is what drives the file writes; each Spark task writes only its
    own partition's files, so the sink scales with executors. ``out_dir``
    must be a task-reachable filesystem (local/NFS in this sandbox; an
    object store needs the Hadoop FS API instead of ``open``).

    ``archive='tar'``: instead of one file per image (the
    billions-of-small-files failure mode at 100 TB — metadata-server melt,
    listing cost, per-object PUT overhead), each task streams its
    partition's GeoTIFFs into ONE uncompressed tar
    (``part-<partitionId>.tar``; payloads are already deflated). The
    manifest ``path`` column then points at ``<tar>#<member>``. File count
    becomes O(partitions) — controlled by the caller's repartition — not
    O(images), which is the property that keeps the sink viable at
    planetary scale."""
    import hashlib
    import io
    import math
    import os
    import tarfile

    import pandas as pd

    if archive not in (None, "tar"):
        raise ValueError(f"archive must be None|'tar', got {archive!r}")

    from tiff_enrichment_pipeline_spark.functions.geo import (
        EARTH_RADIUS_M,
        FOCAL_MM,
        SENSOR_H_MM,
        SENSOR_H_PX,
        SENSOR_W_MM,
        SENSOR_W_PX,
    )
    from tiff_enrichment_pipeline_spark.raster import codec

    cols = ["image_id", "bytes", "w", "h", "fmt", "lat", "lon", "alt"]
    m_lat = 2.0 * math.pi * EARTH_RADIUS_M / 360.0

    def _write_batches(it):
        os.makedirs(out_dir, exist_ok=True)
        tar = tar_path = tmp_tar = None
        if archive == "tar":
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            attempt = _attempt_id()
            tar_path = os.path.join(out_dir, f"part-{pid:05d}.tar")
            # attempt-unique scratch + atomic rename at close: concurrent
            # speculative/zombie attempts of the same partition never
            # interleave writes into one file; whichever attempt finishes
            # renames a complete archive into place (one rename wins, and
            # every attempt's archive holds identical deterministic bytes).
            # Leftover .inprogress files from killed attempts are inert.
            tmp_tar = f"{tar_path}.attempt-{attempt}.inprogress"
            tar = tarfile.open(tmp_tar, "w")
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                w, h = int(r.w), int(r.h)
                px = codec.decode(bytes(r.bytes), w, h, r.fmt)
                geo = None
                # coordinates must be present/finite (a lat without a lon
                # would crash on float(None) or bake NaN doubles into the
                # tags) AND altitude must be a positive finite number —
                # alt 0/NULL gives GSD 0 and a ModelPixelScale of (0,0,0),
                # an invalid geotransform GDAL rejects; such rows export
                # as plain TIFFs instead
                has_gps = not (
                    r.lat is None
                    or r.lon is None
                    or r.alt is None
                    or pd.isna(r.lat)
                    or pd.isna(r.lon)
                    or pd.isna(r.alt)
                    or float(r.alt) <= 0.0
                )
                if has_gps:
                    lat, lon = float(r.lat), float(r.lon)
                    alt = float(r.alt)
                    m_lon = m_lat * math.cos(math.radians(lat))
                    gx = SENSOR_W_MM * alt / (FOCAL_MM * SENSOR_W_PX)
                    gy = SENSOR_H_MM * alt / (FOCAL_MM * SENSOR_H_PX)
                    px_deg, py_deg = gx / m_lon, gy / m_lat
                    geo = {
                        "pixel_scale": (px_deg, py_deg),
                        "origin": (
                            lon - w / 2.0 * px_deg,
                            lat + h / 2.0 * py_deg,
                        ),
                        "epsg": 4326,
                    }
                payload = codec.encode_tiff_u16(
                    px,
                    compression=compression,
                    rows_per_strip=rows_per_strip,
                    geo=geo,
                )
                name = r.image_id
                # ids become filenames / tar member names verbatim: a
                # separator, or '..' as a complete path segment, would
                # write OUTSIDE out_dir (or collide across rows after a
                # lossy rewrite) — reject rather than sanitize so
                # distinct ids can never alias. '..' INSIDE a name (e.g.
                # 'scan..v2') is harmless and allowed.
                if (
                    "/" in name
                    or "\\" in name
                    or name in ("", ".", "..")
                ):
                    raise ValueError(
                        f"export_geotiff: image_id {name!r} is not a safe "
                        "filename (path separators / '..' not allowed); "
                        "clean ids upstream before exporting"
                    )
                if not name.lower().endswith((".tif", ".tiff")):
                    name += ".tif"
                if tar is not None:
                    info = tarfile.TarInfo(name)
                    info.size = len(payload)
                    info.mtime = 0  # deterministic archive bytes
                    tar.addfile(info, io.BytesIO(payload))
                    path = f"{tar_path}#{name}"
                else:
                    # same attempt-isolation as the tar path: scratch file
                    # + atomic rename, so speculative/zombie attempts never
                    # interleave into (or truncate) a final .tif
                    path = os.path.join(out_dir, name)
                    scratch = f"{path}.attempt-{_attempt_id()}.inprogress"
                    with open(scratch, "wb") as f:
                        f.write(payload)
                    os.replace(scratch, path)
                out.append(
                    (
                        r.image_id,
                        path,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                        has_gps,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "image_id", "path", "nbytes", "sha256", "georeferenced",
                ],
            )
        if tar is not None:
            tar.close()
            os.replace(tmp_tar, tar_path)  # atomic POSIX rename

    return df.select(*cols).mapInPandas(_write_batches, GEOTIFF_MANIFEST_SCHEMA)
