"""Multi-batch streaming benchmark for the hydra_spark flagship pipeline.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see perfbench/README.md).
"""
