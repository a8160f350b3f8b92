"""Capture explain("formatted") for named registered queries into a
directory: tools/capture_plans.py --out DIR [--sf SF] [--suffix S] q...
Construction-time side work (eager localCheckpoint ladders) runs, but
nothing executes the FINAL plan, so this is cheap relative to a bench
run. Suffix names the file <query><suffix>.txt (e.g. _before/_after).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petastorm_spark.plans.checks import formatted_plan  # noqa: E402
from petastorm_spark.queries import QUERIES  # noqa: E402
from petastorm_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    out = None
    sf = "0.1"
    suffix = ""
    execute = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--out":
            out = args[i + 1]; i += 2
        elif a == "--sf":
            sf = args[i + 1]; i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        elif a == "--exec":
            # execute the frame first so the captured plan is the FINAL
            # adaptive plan (runtime ReusedExchange / AQE join flips
            # only appear there)
            execute = True; i += 1
        else:
            names.append(a); i += 1
    if not out or not names:
        raise SystemExit(__doc__)
    os.makedirs(out, exist_ok=True)
    spark = get_spark("capture_plans")
    sf_dir = f"/root/testdata/sf{sf}"
    for n in names:
        try:
            df = QUERIES[n](spark, sf_dir)
            if execute:
                df.collect()  # executes THIS queryExecution (count() plans its own)
            p = formatted_plan(df)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {n}: {e}", file=sys.stderr)
            continue
        path = os.path.join(out, f"{n}{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        n_ex = p.count("Exchange")  # includes ReusedExchange rows
        n_reuse = p.count("ReusedExchange")
        n_py = sum(
            p.count(t)
            for t in (
                "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
            )
        )
        n_smj = p.count("SortMergeJoin")
        n_bhj = p.count("BroadcastHashJoin")
        print(
            f"{n}: exchanges={n_ex} (reused={n_reuse}) python={n_py} "
            f"smj={n_smj} bhj={n_bhj} bytes={len(p)}"
        )


if __name__ == "__main__":
    main()
