"""Profile registered queries: min-of-N wall, the Spark jobs, stages and
tasks that ran, and the shape of the executed plan, per query and scale
factor.

    python tools/profile_queries.py [--sf SF[,SF...]] [--runs N] [--plans DIR] QUERY...

At each scale factor a query runs once untimed (JIT and codegen warmup,
and the per-dataset index caches some queries build on first use, so
the timed runs find them built), then ``--runs`` timed runs through
``petastorm_spark.profile.profile_query``, bench.py's protocol. One JSON
line per query and scale factor:

    {"query", "sf", "wall_min", "walls", "rows", "jobs", "stages", "tasks",
     "plan_exchanges", "plan_python"}

or ``{"query", "sf", "error"}`` when the query raises. ``stages`` and
``tasks`` count what ran: each stage id once, skipped stages left out.
The plan counts are the Exchange operators (reused and broadcast ones
included) and the Python operators among the numbered operators of
``plans.checks.formatted_plan`` (initial adaptive plans and the plans
of cached relations included), read after one more, untimed run of the
frame (eager work inside the query function, such as local
checkpoint ladders, shows in the job counts, not in this plan);
``--plans DIR`` writes that plan to ``DIR/<query>_sf<SF>.txt``.

A query whose ``wall_min`` stays within 2x across ``--sf 0.001,0.01,0.1``
is scheduler-bound at these scales, so its cross-session swings on
unchanged code are noise, not regressions (BASELINE.md).

The file is not named profile.py: a script run from tools/ has tools/
first on sys.path, where a profile.py would shadow the standard library
module that pyspark imports through cProfile.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petastorm_spark.plans.checks import formatted_plan  # noqa: E402
from petastorm_spark.profile import profile_query  # noqa: E402
from petastorm_spark.queries import QUERIES  # noqa: E402
from petastorm_spark.session import get_spark  # noqa: E402

TESTDATA = "/root/testdata"  # one sf<SF>/ directory per scale factor (TESTDATA.md)
PYTHON_NODES = {
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas",
}
# one header per operator in the formatted plan's details section; a
# substring count would also count the plans a cached relation repeats
# inline (pagerank_purchases: 1,258 "Exchange" mentions, 48 operators)
NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def profile(spark, name: str, sf: str, runs: int, plans_dir: str | None) -> dict:
    fn, sf_dir = QUERIES[name], f"{TESTDATA}/sf{sf}"
    prof = profile_query(spark, fn, sf_dir, runs)
    df = fn(spark, sf_dir)
    df.collect()  # runs this frame's own plan (count() plans another one)
    plan = formatted_plan(df)
    if plans_dir:
        with open(os.path.join(plans_dir, f"{name}_sf{sf}.txt"), "w") as f:
            f.write(plan)
    walls = [round(w, 3) for w in prof.pop("walls")]
    nodes = NODE.findall(plan)
    return {
        "wall_min": min(walls),
        "walls": walls,
        **prof,
        "plan_exchanges": sum("Exchange" in n for n in nodes),
        "plan_python": sum(n in PYTHON_NODES for n in nodes),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--sf", default="0.1", help="a scale factor or a comma list")
    ap.add_argument("--runs", type=int, default=3, help="timed runs (default 3)")
    ap.add_argument("--plans", metavar="DIR", help="write each executed plan here")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args(argv)
    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark("profile")
    for name in args.queries:
        for sf in args.sf.split(","):
            try:
                QUERIES[name](spark, f"{TESTDATA}/sf{sf}").count()
            except Exception:  # noqa: BLE001 - the timed runs report the error
                pass
            row = {"query": name, "sf": float(sf)}
            try:
                row.update(profile(spark, name, sf, args.runs, args.plans))
            except Exception as e:  # noqa: BLE001 - one query must not stop the rest
                row["error"] = f"{type(e).__name__}: {e}"[:300]
            print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
