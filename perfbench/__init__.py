"""Engine benchmark: seeded workloads driven through shovel_spark's public
functions, checked against the pure-Python oracle. Entry point:
``python3 perfbench/run.py``."""
