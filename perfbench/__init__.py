"""Engine benchmark: seeded workloads, brute-force output checks and a
traced per-layer run. Entry point: ``python3 perfbench/run.py --help``."""
