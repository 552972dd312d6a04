"""Gateway benchmark: drives ``create_app`` in-process and reports
per-route latency, setup time and (traced runs) per-layer metrics.

Run it from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0
"""
