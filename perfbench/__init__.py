"""Seeded, closed-loop benchmark of the spark_timeseries_spark library.

Run from the repository root::

    python3 perfbench/run.py --workload ts_prep_fit --seed 1 --seconds 15 --trace 0

See ``perfbench/README.md`` for the workloads and metrics.
"""
