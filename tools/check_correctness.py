"""Local mimic of the driver's t2 gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and (order-insensitive) values.

Usage:
    python tools/check_correctness.py [query ...]     # all (or named)
    python tools/check_correctness.py --stale [N]     # staleness sweep

``--stale`` selects exactly the queries whose last fully-green DRIVER
row (CORRECTNESS_r*.json) is N or more rounds old (default 3) or that
have never had one — the round-8 verdict's self-audit ritual, so no
query ages out of evidence silently. The sweep's outcome is appended
to SWEEPS.json (committed) as the round's local-evidence record.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        # numpy arrays from spark/duckdb list columns
        try:
            import numpy as np

            df[c] = df[c].map(
                lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray) else v
            )
        except Exception:
            pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


def stale_queries(entrymod, qs, min_age: int) -> list[str]:
    """Queries whose newest green driver row is >= min_age rounds older
    than the newest committed round (or missing entirely)."""
    last = entrymod._last_green_round()
    latest = max(last.values(), default=0)
    return [q for q in qs if latest - last.get(q, -10**6) >= min_age]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from petastorm_spark.session import get_spark, release_persisted
    from petastorm_spark.sql import TESTDATA_TABLES
    import __spark_entry__ as entrymod

    spark = get_spark("correctness_check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    args = sys.argv[1:]
    sweep_mode = False
    if args and args[0] == "--stale":
        sweep_mode = True
        min_age = int(args[1]) if len(args) > 1 else 3
        wanted = stale_queries(entrymod, qs, min_age)
        print(f"stale sweep: {len(wanted)} queries >= {min_age} rounds old")
        if not wanted:
            _record_sweep({}, min_age)
            print("== nothing stale ==")
            return
    else:
        wanted = args or list(qs)
    unknown = [w for w in wanted if w not in qs]
    if unknown:
        print(f"unknown queries: {unknown}; available: {sorted(qs)}")
        sys.exit(2)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_weak = 0
    results: dict[str, str] = {}
    for name in wanted:
        fn = qs[name]
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = f"FAIL spark error: {e}"
            n_fail += 1
            continue
        finally:
            release_persisted()  # the result is consumed (or failed)
        if name not in oracles:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle, rows-only check)")
            results[name] = f"WEAK rows={len(sdf)}"
            n_weak += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = f"FAIL duckdb error: {e}"
            n_fail += 1
            continue

        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        else:
            # dtype drift: int-vs-float is a hard FAIL — the driver
            # hashes values, and 5 vs 5.0 hash differently (proven by
            # pack_sequences in round 4: HUGEINT->float64 on the
            # oracle side hash-mismatched despite equal values).
            # Same-kind width drift (int32 vs int64) stays a warning.
            for c in sorted(sdf.columns):
                st, ot = str(sdf[c].dtype), str(odf[c].dtype)
                if st != ot:
                    s_int = st.startswith(("int", "uint"))
                    o_int = ot.startswith(("int", "uint"))
                    s_f = st.startswith("float")
                    o_f = ot.startswith("float")
                    if (s_int and o_f) or (s_f and o_int):
                        problems.append(
                            f"dtype kind mismatch {c}: spark={st} oracle={ot}"
                        )
                    else:
                        print(f"  DTYPE {name}.{c}: spark={st} oracle={ot}")
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
        if not problems:
            a, b = canon(sdf), canon(odf)
            bad = 0
            first = None
            for i in range(len(a)):
                for c in a.columns:
                    if not values_equal(a.at[i, c], b.at[i, c]):
                        bad += 1
                        if first is None:
                            first = (i, c, a.at[i, c], b.at[i, c])
            if bad:
                problems.append(f"{bad} value mismatches; first={first}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            results[name] = "FAIL " + "; ".join(problems)
            n_fail += 1
        else:
            # a 0-row agreement can hide a shared wrong literal (both
            # engines agreeing on the empty set proves nothing)
            flag = " (WARN: empty result — vacuous agreement?)" if len(sdf) == 0 else ""
            print(f"PASS {name} rows={len(sdf)}{flag}")
            results[name] = f"PASS rows={len(sdf)}{flag}"
            n_pass += 1

    print(f"== {n_pass} pass, {n_weak} weak, {n_fail} fail ==")
    if sweep_mode:
        _record_sweep(results, min_age)
    if n_fail:
        sys.exit(1)


def _record_sweep(results: dict, min_age: int) -> None:
    """Append this sweep's verdicts to the committed SWEEPS.json, keyed
    by UTC timestamp — the round's local-evidence record."""
    import datetime
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "SWEEPS.json")
    try:
        with open(path) as f:
            book = json.load(f)
    except (OSError, ValueError):
        book = {}
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    book[stamp] = {"min_age_rounds": min_age, "results": results}
    with open(path, "w") as f:
        json.dump(book, f, indent=1, sort_keys=True)
    print(f"sweep recorded in SWEEPS.json ({len(results)} queries)")


if __name__ == "__main__":
    main()
