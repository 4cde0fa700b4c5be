"""Capture the physical plan of every stage write ``run_pipeline`` makes
into plans/pipeline/<stage>_<suffix>.txt, so a refactor of the pipeline
can show its stage plans are unchanged.

Runs ``pipeline.run.run_pipeline`` once on a small generated season
(``perfbench/season.py``) with ``write_parquet`` wrapped in the module's
namespace: each wrapper call records ``explain("formatted")`` of the
frame as written (``sortWithinPartitions`` applied when the call asks
for it) plus the write options the call sets (keywords passed with a
false value are left out), then writes as usual. The work
directory is replaced by ``<workdir>`` in the dumps so two checkouts
can be diffed; expression IDs still differ between runs.

Usage:
    python tools/capture_pipeline_plans.py --suffix before|after \
        [--plays-per-week 20] [--outdir plans/pipeline]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

from season import Season, read_season, write_season  # noqa: E402

from big_data_bowl_2026_analytics_spark.core import get_spark  # noqa: E402
from big_data_bowl_2026_analytics_spark.pipeline import run as pipeline_run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument("--plays-per-week", type=int, default=20)
    ap.add_argument("--outdir", default=str(REPO / "plans" / "pipeline"))
    args = ap.parse_args()

    outdir = Path(args.outdir)
    outdir.mkdir(parents=True, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="pipeline-plans-")
    raw_dir, workdir = os.path.join(tmp, "season"), os.path.join(tmp, "out")
    spark = get_spark("capture-pipeline-plans", shuffle_partitions=8)
    write_season(Season(plays_per_week=args.plays_per_week), 1, raw_dir)

    write = pipeline_run.write_parquet
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def capture(df, path, *a, **kw):
        sort = kw.get("sort_within_partitions")
        shown = df.sortWithinPartitions(*sort) if sort else df
        plan = shown._jdf.queryExecution().explainString(mode)
        opts = "".join(f"{k}={v!r}\n" for k, v in sorted(kw.items()) if v)
        stage = os.path.basename(os.path.normpath(path))
        text = f"write_parquet({stage})\n{opts}\n{plan}".replace(tmp, "<workdir>")
        (outdir / f"{stage}_{args.suffix}.txt").write_text(text)
        print(f"wrote {outdir / f'{stage}_{args.suffix}.txt'}")
        return write(df, path, *a, **kw)

    pipeline_run.write_parquet = capture
    try:
        pipeline_run.run_pipeline(spark, *read_season(spark, raw_dir), workdir)
    finally:
        pipeline_run.write_parquet = write
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
