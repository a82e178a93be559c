"""Submit-time config validation (SURVEY §1.1; reference
core/config.py:16-152, core/validation.py:294-368). Pure-Python — no
SparkSession."""

from __future__ import annotations

import pytest

from tiff_enrichment_pipeline_spark.config import ConfigError, EnrichConfig


def test_defaults_are_valid():
    cfg = EnrichConfig().validate()
    assert cfg.partition_buckets == 16 and cfg.broadcast_dem is True


def test_invalid_values_all_reported_at_once():
    with pytest.raises(ConfigError) as e:
        EnrichConfig(
            partition_buckets=0, broadcast_obs="no", sf_dir=""
        ).validate()
    msg = str(e.value)
    # every violation listed, not just the first
    assert "partition_buckets=0" in msg
    assert "broadcast_obs='no'" in msg
    assert "sf_dir=''" in msg


def test_from_dict_rejects_unknown_keys():
    # removed fields = unknown keys
    for key in ("knn_k", "dem_salt", "knn_res", "knn_ring", "cell_res_low",
                "cell_res_mid", "cell_res_high"):
        with pytest.raises(ConfigError, match=f"unknown config keys: {key}"):
            EnrichConfig.from_dict({key: 3})


def test_from_dict_roundtrip():
    cfg = EnrichConfig.from_dict({"partition_buckets": 3, "broadcast_dem": False})
    assert cfg.partition_buckets == 3 and cfg.broadcast_dem is False


def test_from_dict_rejects_bool_for_int():
    # bool is an int subclass; a JSON `true` is no bucket count
    with pytest.raises(ConfigError, match="partition_buckets=True"):
        EnrichConfig.from_dict({"partition_buckets": True})


def test_wrong_types_rejected():
    with pytest.raises(ConfigError, match="broadcast_dem"):
        EnrichConfig(broadcast_dem="yes").validate()
    with pytest.raises(ConfigError, match="partition_buckets"):
        EnrichConfig(partition_buckets=0).validate()


def test_module_cli_batch(spark, tmp_path):
    """`python -m tiff_enrichment_pipeline_spark` (SURVEY §3.2 entry point):
    batch mode writes enriched + lineage + metrics and reports a summary."""
    import json

    from tiff_enrichment_pipeline_spark.__main__ import main

    out = str(tmp_path / "cli")
    rc = main(["/root/testdata/sf0.001", out])
    assert rc == 0
    import pyspark.sql

    s = pyspark.sql.SparkSession.getActiveSession()
    assert s.read.parquet(f"{out}/enriched").count() == 1500
    assert s.read.parquet(f"{out}/lineage").count() > 0
    assert s.read.parquet(f"{out}/metrics").count() > 0


def test_module_cli_rejects_bad_config(tmp_path):
    import json

    import pytest as _pytest

    from tiff_enrichment_pipeline_spark.__main__ import main
    from tiff_enrichment_pipeline_spark.config import ConfigError

    cfgf = tmp_path / "cfg.json"
    cfgf.write_text(json.dumps({"partition_buckets": 0}))
    with _pytest.raises(ConfigError, match="partition_buckets"):
        main(["/root/testdata/sf0.001", str(tmp_path / "o"), "--config", str(cfgf)])


def test_preflight_ok_and_failures(spark, tmp_path):
    """Health gate (SURVEY §3.1 step 2): all-ok dict on a good setup; every
    failure listed at once on a bad one."""
    from tiff_enrichment_pipeline_spark.health import (
        HealthCheckError,
        preflight,
    )

    checks = preflight(spark, "/root/testdata/sf0.001", str(tmp_path / "o"))
    assert checks["spark_session"] == "ok"
    assert checks["timezone_utc"] == "ok"
    assert checks["input_orders"] == "ok"
    assert checks["output_writable"] == "ok"

    with pytest.raises(HealthCheckError) as e:
        preflight(spark, str(tmp_path / "missing_dir"))
    msg = str(e.value)
    # every missing flagship input (orders, supplier) reported together
    assert msg.count("input ") == 2


def test_preflight_output_is_a_regular_file(spark, tmp_path):
    """The Hadoop-FS writability probe (create + delete of a marker file,
    no Spark job) fails loudly when output_dir is an existing regular file,
    and leaves no marker behind when the location is writable."""
    import os

    from conftest import SF_SMALL

    from tiff_enrichment_pipeline_spark.health import (
        HealthCheckError,
        preflight,
    )

    ok = tmp_path / "ok"
    assert preflight(spark, SF_SMALL, str(ok))[
        "output_writable"
    ] == "ok"
    assert os.listdir(ok) == []

    f = tmp_path / "a_file"
    f.write_text("keep")
    with pytest.raises(HealthCheckError, match=r"output .* not writable"):
        preflight(spark, SF_SMALL, str(f))
    assert f.read_text() == "keep"


def test_cli_config_file_paths_not_clobbered(spark, tmp_path):
    """--config file sf_dir/output_dir must win over argparse DEFAULTS (only
    explicit positionals override the file)."""
    import json

    from tiff_enrichment_pipeline_spark.__main__ import main

    out = str(tmp_path / "from_config")
    cfgf = tmp_path / "cfg.json"
    cfgf.write_text(
        json.dumps({"sf_dir": "/root/testdata/sf0.001", "output_dir": out})
    )
    rc = main(["--config", str(cfgf)])
    assert rc == 0
    import os

    assert os.path.isdir(out)  # wrote where the config said


def test_enrich_partitioned_dem_matches_broadcast_plan(spark):
    """enrich(broadcast_dem=False) — the planetary-DEM flagship — must
    produce the same enrichment values as the default fused plan."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    sf = "/root/testdata/sf0.001"
    kw = dict(
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, sf),
        dem_tiles=dem_tiles_df(spark),
        observations=geotables.weather_observations(spark, sf),
    )
    # value-deterministic subset: limit() inside two DIFFERENT downstream
    # physical plans may take different rows (observed r6 when the obs
    # pack build changed the a-arm's plan) — a filter on the key cannot
    img = geotables.images_geo(spark, sf).filter(
        F.col("image_id") % 4 == 0
    )
    cols = ["image_id", "land_cover_class", "weather_station_id",
            "elevation", "elevation_source", "enrich_status"]

    def vals(df):
        return {
            r["image_id"]: tuple(
                round(x, 6) if isinstance(x, float) else x
                for x in (r[c] for c in cols[1:])
            )
            for r in df.select(cols).collect()
        }

    a = vals(enrich(img, broadcast_dem=True, **kw))
    b = vals(enrich(img, broadcast_dem=False, **kw))
    assert a == b


def test_module_cli_compact(spark, tmp_path, capsys):
    """--compact: maintenance mode compacts a fragmented table in place
    and prints the file-count stats, without touching enrichment inputs."""
    import json

    from tiff_enrichment_pipeline_spark.__main__ import main
    from tiff_enrichment_pipeline_spark.fixtures import images_df
    from tiff_enrichment_pipeline_spark.sources.images import write_images

    loc = str(tmp_path / "tab")
    write_images(
        images_df(spark, 3).repartition(3), loc, mode="overwrite", buckets=2
    )
    write_images(
        images_df(spark, 5).filter("capture_id = 'IMG_0004'").repartition(2),
        loc, mode="append", buckets=2,
    )
    rc = main(["--compact", loc])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "compact"
    assert out["files_after"] < out["files_before"]


def test_workers_import_package_without_pythonpath(tmp_path):
    """A driver that finds the package through ``sys.path`` alone, run
    from another working directory with no ``PYTHONPATH``, must still run
    a UDF that calls package code: ``get_spark`` hands the package root
    to the executors' ``PYTHONPATH`` for the masters it sets."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from tiff_enrichment_pipeline_spark.operators.knn_join import knn_nearest
        from tiff_enrichment_pipeline_spark.session import get_spark

        spark = get_spark("worker-path", master="local[2]", shuffle_partitions=2)
        img = spark.createDataFrame(
            [(1, 4.9, 52.4), (2, 5.3, 52.0), (3, None, None)],
            "image_id long, lon double, lat double",
        )
        st = spark.createDataFrame(
            [(10, 4.8, 52.3, 1.0, 2.0, 3.0), (11, 5.2, 52.0, 4.0, 5.0, 6.0)],
            "station_id long, st_lon double, st_lat double, temp_c double, "
            "wind_ms double, precip_mm double",
        )
        rows = knn_nearest(img, st).orderBy("image_id").collect()
        print("NEAREST", [r["station_id"] for r in rows])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "NEAREST [10, 11, None]" in r.stdout
