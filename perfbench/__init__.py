"""Repository benchmark: Fluent Bit msgpack ingest and committed-run search.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See
``perfbench/README.md``.
"""
