"""Regenerate PLANS.md — formatted physical plans of the headline operators.

Run: python tools/dump_plans.py   (from the repo root)

The plan-quality pytest layer (tests/test_plan_quality.py) asserts the
load-bearing properties (no fact-table shuffles, broadcast joins, single
Python crossing, pushed filters); this artifact is the same evidence in
human-readable form so a reviewer can see the actual plans without running
Spark.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.001"


def main() -> None:
    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.elevation import (
        elevation_join,
        terrain_join,
    )
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich
    from tiff_enrichment_pipeline_spark.queries import QUERIES
    from tiff_enrichment_pipeline_spark.session import get_spark

    spark = get_spark("dump-plans")

    def fmt(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    sections: list[tuple[str, str, str]] = []

    flagship = enrich(
        geotables.images_geo(spark, SF),
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, SF),
        dem_tiles=dem_tiles_df(spark),
        observations=geotables.weather_observations(spark, SF),
    )
    sections.append(
        (
            "Flagship enrichment (plans/enrich.py)",
            "The 100 TB property: the image table is never hash-shuffled — "
            "only broadcast exchanges + the deliberate source repartition; "
            "ONE fused Arrow crossing does 1-NN + DEM bilinear.",
            fmt(flagship),
        )
    )
    sections.append(
        (
            "Terrain derivatives (operators/elevation.terrain_join)",
            "Same data motion as elevation: broadcast tile metadata, "
            "one ArrowEvalPython, zero probe shuffles.",
            fmt(terrain_join(geotables.images_geo(spark, SF), dem_tiles_df(spark))),
        )
    )
    sections.append(
        (
            "Partitioned DEM sampling (operators/elevation.elevation_join, broadcast_dem=False)",
            "The planetary-DEM path: ONE sort-merge left join on the tile key "
            "(merge hint — the DEM never broadcasts), so each grid crosses the "
            "shuffle once; the Project under the ArrowEvalPython cuts the "
            "probe's 4 float32 corner words (16 bytes) out of `grid` and drops "
            "it, so no grid reaches Python. Hot tiles: AQE's skew-join split, once "
            "a tile's partition passes `spark.sql.adaptive.skewJoin.*` (256 MB "
            "and 5× the median by default).",
            fmt(
                elevation_join(
                    geotables.images_geo(spark, SF).select("image_id", "lon", "lat"),
                    dem_tiles_df(spark),
                    broadcast_dem=False,
                )
            ),
        )
    )
    for name, why in [
        ("asof_weather", "Distributed as-of join: union + ONE station-key exchange + running forward-fill — no |probe|x|history| blowup."),
        ("sliding_1h", "Time-range window: exactly one hash exchange (user_id)."),
        ("range_band", "Bucketed interval range join: explode-cover + hash equi-join + refine — no nested-loop join."),
        ("lsh_dedup_clusters", "MinHash-LSH dedup chain: banded equi self-join on uniform keys, partial-agg minima."),
        ("cell_pyramid", "Tile-pyramid rollup: one scan, partial aggregation absorbs hot-cell skew."),
        ("top_shingles", "UNNEST census: Generate (codegen) + partial count + TakeOrderedAndProject — no full sort."),
    ]:
        sections.append((f"`{name}`", why, fmt(QUERIES[name](spark, SF))))

    out = ["# PLANS — formatted physical plans of the headline operators\n"]
    out.append(
        "Generated by `python tools/dump_plans.py` at sf0.001 (plan shape is\n"
        "scale-independent; AQE may further coalesce at runtime). The\n"
        "properties asserted in tests/test_plan_quality.py are visible here\n"
        "directly.\n"
    )
    for title, why, plan in sections:
        out.append(f"\n## {title}\n\n{why}\n\n```\n{plan.strip()}\n```\n")
    (REPO / "PLANS.md").write_text("".join(out))
    print(f"wrote {REPO / 'PLANS.md'} ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
