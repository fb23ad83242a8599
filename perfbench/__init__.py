"""CDC replay benchmark: workloads, correctness gate, tracing and event-log fold.

Run it from the repository root with ``python3 perfbench/run.py``; see
``perfbench/README.md``.
"""
