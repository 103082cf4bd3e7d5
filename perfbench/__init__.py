"""The repository benchmark: seeded closed-loop workloads over the LogStore and
the query registry, with a traced mode that attributes time to each layer.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
