"""Repository benchmark: seeded workloads run against the public API.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root. See README.md.
"""
