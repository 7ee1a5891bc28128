"""Capture `.explain("formatted")` for named queries to plans/<ROUND>/.

Usage:
    python tools/dump_plan.py ROUND before|after <name> [<name> ...]

Writes plans/<ROUND>/<name>_<tag>.txt (ROUND like ``r10``) — the
checkable evidence for every plan claim in that round's
OPTIMIZATION_<ROUND>.md. Uses sf0.001 (plan shapes are
size-independent modulo AQE's runtime picks, and several queries
execute eagerly while building — small SF keeps capture cheap).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS_DIR = os.path.join(REPO, "plans")


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.session import drop_blocks, get_spark

    spark = get_spark(f"ddp-dump-plan-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(PLANS_DIR, rnd)
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        if name not in QUERIES:
            print(f"unknown query {name!r}")
            continue
        df = QUERIES[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {tag} (sf_dir={SF_DIR})\n\n")
            fh.write(plan)
        print(f"wrote {path}")
        drop_blocks(spark)


if __name__ == "__main__":
    main()
