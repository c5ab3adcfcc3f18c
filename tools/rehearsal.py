"""100x rehearsal of the flagship KG pipeline (VERDICT r4 item 5).

Runs the FULL Pipeline (extracted -> sentences -> kb_sentences -> canonical
-> mentions -> triples, every stage written + lineage-recorded) at a page
count ~10x the bench fixture and at a 1/8 control point, then prints
per-stage wall seconds and the large/small ratio per stage. With 8x the
input, a stage scaling linearly shows ratio <= ~8 (fixed DAG/setup cost
makes big-run ratios LOWER); a super-linear stage (ratio >> 8) is the
memory/fixed-cost cliff the sf0.1 bench can't see.

Pages are inflated DISTRIBUTED (explode a rep sequence, re-keyed urls) so
the driver never materializes 200k HTML pages in a Python list.

Usage: python tools/rehearsal.py [big_pages] [small_pages]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def inflated_pages(spark, base_pages, factor: int):
    """Distributed xN inflation: each fixture page becomes `factor` distinct
    pages (unique url per replica — canonical-entity mentions and triples
    scale with page count, same per-page text shape)."""
    return (
        base_pages.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        .withColumn(
            "url",
            F.concat_ws("/", F.col("url"), F.col("rep").cast("string")),
        )
        .drop("rep")
    )


def run_once(spark, t, n_base: int, factor: int) -> dict:
    from kgner.pipeline import Pipeline, PipelineConfig

    pages = inflated_pages(spark, t["pages"], factor)
    wd = tempfile.mkdtemp(prefix=f"kgner_rehearsal_{n_base * factor}_")
    cfg = PipelineConfig(workdir=wd, salt_buckets=32, salt_threshold=0.2)
    pipe = Pipeline(spark, cfg, pages, t["kb_pages"], t["redirects"])
    t0 = time.monotonic()
    pipe.run()
    total = time.monotonic() - t0
    stages = {
        rec["stage"]: {"sec": rec["wall_ms"] / 1000.0, "rows": rec["rows_out"]}
        for rec in pipe.lineage.read_all()
    }
    # the materialized stage tables are GB-scale at 200k pages — don't let
    # repeated rehearsals fill /tmp
    import shutil

    shutil.rmtree(wd, ignore_errors=True)
    triples = stages.get("triples", {}).get("rows", 0)
    return {
        "pages": n_base * factor,
        "total_sec": round(total, 1),
        "triples": triples,
        "triples_per_sec": round(triples / total, 1),
        "stages": {k: {"sec": round(v["sec"], 1), "rows": v["rows"]}
                   for k, v in stages.items()},
    }


def main():
    big = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else big // 8

    from kgner.fixtures import build_fixtures, to_spark
    from kgner.session import get_spark, local_cores

    cores = local_cores()
    spark = get_spark("kgner-rehearsal", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    n_base = 25_000
    fx = build_fixtures(n_entities=150, n_pages=n_base, giant_pages=2)
    t = to_spark(spark, fx)
    t["pages"] = t["pages"].localCheckpoint()  # fixture build off the clock

    # discarded warm-up (python-worker fork + codegen + parquet committer):
    # without it the small control pays every one-time cost and the
    # big/small ratios understate the big run
    run_once(spark, t, n_base, 1)

    out = {}
    for label, pages in (("small", small), ("big", big)):
        factor = max(1, pages // n_base)
        if n_base * factor != pages:
            # inflation works in whole multiples of the fixture — say so
            # instead of silently measuring a different point
            print(json.dumps({
                "warning": f"{label}: requested {pages} pages, running "
                           f"{n_base * factor} (multiple of {n_base} fixture)"
            }), flush=True)
        out[label] = run_once(spark, t, n_base, factor)
        print(json.dumps({label: out[label]}), flush=True)

    ratios = {}
    for st, v in out["big"]["stages"].items():
        s = out["small"]["stages"].get(st, {}).get("sec", 0)
        ratios[st] = round(v["sec"] / s, 2) if s else None
    data_ratio = out["big"]["pages"] / out["small"]["pages"]
    summary = {
        "data_ratio": data_ratio,
        "stage_time_ratios_big_over_small": ratios,
        "superlinear_stages": [
            st for st, r in ratios.items() if r is not None and r > data_ratio * 1.25
        ],
    }
    if data_ratio < 2:
        summary["superlinear_stages"] = []
        summary["note"] = (
            "data_ratio < 2 after fixture-multiple rounding — "
            "super-linearity check not meaningful at this spread"
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
