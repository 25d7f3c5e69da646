"""Dump formatted physical plans of the headline queries to PLANS.md —
the plan-level evidence that filters push down, joins broadcast, and the
hot paths stay inside whole-stage codegen.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "pip_points_in_polygons",
    "extract_raster_values",
    "zonal_statistics",
    "tile_counts",
    "nn_gridding",
    "polygons_to_raster",
    "line_intersections",
    "d8_flow_accumulation",
    "union_rings",
    # round-4 scale paths
    "fd8_flow_accumulation",
    "cost_distance",
    "max_diff_from_mean_tiled",
    "topographic_hachures",
    # round-5 additions
    "embankment_removal",
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from bench import geodoc_pipeline
    from whitebox_tools_spark.datagen import write_geodocs
    from whitebox_tools_spark.session import get_spark

    spark = get_spark(app_name="plans", cores=4, shuffle_partitions=8)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = [
        "# Physical plans (​.explain 'formatted') — headline queries\n",
        "What to look for: `PushedFilters`/`ReadSchema` on scans (pruning),\n"
        "`BroadcastHashJoin` for the small sides, contiguous `WholeStageCodegen`\n"
        "spans over the decode/winding expressions, and a single `Exchange` per\n"
        "aggregation.\n",
    ]

    geodoc_path = os.path.join(repo, ".cache", "geodocs_micro")
    write_geodocs(geodoc_path, 2000, seed=42)
    plans = {"geodoc_join_tiling_pipeline": geodoc_pipeline(spark, geodoc_path)}
    qs = E.queries()
    for name in HEADLINE:
        plans[name] = qs[name](spark, sf_dir)

    for name, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")

    with open(os.path.join(repo, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
