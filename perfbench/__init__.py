"""CDC ingest benchmark: two workloads (``tail`` and ``query_suite``)
timed from outside the engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
