"""Seeded, oracle-checked benchmark of the corpus analytics engine.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
runs one workload; see ``perfbench/README.md``.
"""
