"""Repository benchmark: CDC replay and streaming-tail workloads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``BENCHMARK.json`` lists the
workloads and metrics, ``perfbench/LAYERS.md`` maps per-layer metrics to
the end-to-end metrics they should move.
"""
