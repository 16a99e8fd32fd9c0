"""Benchmark of the localitysensitivesketch_spark engine.

``python3 lssbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload at ``local[4]`` and prints one JSON line;
see ``run.py`` for the workloads and metrics.
"""
