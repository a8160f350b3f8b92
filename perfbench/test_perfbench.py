"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The eight tiny-size runs start one Spark JVM each (about four minutes in
total on 4 cores)."""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import data, readers
from perfbench.harness import CpuMeter, interquartile_mean
from perfbench.metrics import CODECS, END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.25"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload",
    ["tensor_rows", "columnar_batches", "tensor_write", "curation_queries"],
)
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted
    if trace:
        values = {k: v["value"] for k, v in result["metrics"].items()}
        assert_layers_separate(workload, values)
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def assert_layers_separate(workload: str, m: dict) -> None:
    """The traced run's predictions: codec decode takes at least half of
    the piece-decode time on tensor_rows and none on columnar_batches, the
    curation queries never reach the reader or the codecs, and both reader
    workloads report a pass through the thread pool."""
    decode_calls = sum(m[f"codecs.{c}.decode.calls"] for c in CODECS)
    decode_busy = sum(m[f"codecs.{c}.decode.busy_s"] for c in CODECS)
    if workload in ("tensor_rows", "columnar_batches"):
        assert m["reader.pool_items_per_s"] > 0
    if workload == "tensor_rows":
        assert m["reader.pool_busy_s"] > 0
        assert decode_busy >= 0.5 * m["reader.pool_busy_s"]
    elif workload == "columnar_batches":
        assert m["piece_worker.load_table.calls"] > 0
        assert decode_calls == 0
    elif workload == "curation_queries":
        assert m["spark.jobs"] > 0
        assert m["piece_worker.load_table.calls"] == 0
        assert m["reader.pool_busy_s"] == 0
        assert decode_calls == 0


def test_interquartile_mean_drops_the_tails():
    assert interquartile_mean([1.0, 2.0, 3.0]) == 2.0
    assert interquartile_mean([100.0, 2.0, 3.0, 0.0, 2.0, 3.0, 2.0, 3.0]) == 2.5


def test_cpu_meter_counts_work_of_other_threads():
    import threading

    def spin(seconds):
        end = time.thread_time() + seconds
        while time.thread_time() < end:
            pass

    meter = CpuMeter()
    meter.start()
    spin(0.05)
    worker = threading.Thread(target=spin, args=(0.2,))
    worker.start()
    worker.join()
    cost = meter.lap(1)
    # 0.25 s of CPU, scaled by the vCPU's speed against the reference
    assert 0.25 * 0.3 < cost < 0.25 * 3


def _corrupt(digest: str) -> str:
    return ("0" if digest[0] != "0" else "1") + digest[1:]


def test_corrupted_expected_digest_fails_tensor_check():
    ids = readers.split_ids(200) * 2
    Row = collections.namedtuple("Row", "id label image feature mask feature_norm")
    samples = []
    for i in ids[:3]:
        r = data.tensor_row(7, i)
        samples.append(Row(r["id"], r["label"], r["image"], r["feature"],
                           r["mask"], np.linalg.norm(r["feature"])))
    digest = readers.multiset_digest(ids)
    assert readers.check_tensor_rows(7, ids, digest, samples) == []
    assert readers.check_tensor_rows(7, ids, _corrupt(digest), samples)
    # one id delivered once too often also fails
    assert readers.check_tensor_rows(7, ids + ids[:1], digest, samples)
    bad = samples[0]._replace(image=samples[0].image ^ 1)
    assert readers.check_tensor_rows(7, ids, digest, [bad])


def test_columnar_check_compares_count_and_id_sum():
    assert readers.check_columnar(10, 55, (10, 55)) == []
    assert readers.check_columnar(10, 55, (10, 56))
    assert readers.check_columnar(9, 55, (10, 55))


def test_split_matches_library_predicate():
    import pandas as pd

    from petastorm_spark.predicates import in_pseudorandom_split

    ids = pd.DataFrame({"id": np.arange(500, dtype=np.int64)})
    mask = in_pseudorandom_split(readers.SPLIT, 0, "id").do_include_pandas(ids)
    assert list(np.flatnonzero(mask.to_numpy())) == readers.split_ids(500)
