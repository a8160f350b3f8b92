"""Closed-loop benchmark of the public petastorm_spark API.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``perfbench/LAYERS.md`` for
the workloads, the metrics and which layer each traced counter covers.
"""
