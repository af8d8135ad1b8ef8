"""Retrieval benchmark for sparkrec: seeded workloads, answer checks,
end-to-end metrics and an outside-in per-layer trace.

Run ``python3 perfbench/run.py --workload point --seed 1 --seconds 10
--trace 0`` from the repository root; README.md in this directory
explains the workloads and every metric.
"""
