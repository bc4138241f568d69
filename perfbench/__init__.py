"""Seeded, output-checked benchmark of the kgforge CLI workloads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``--all`` runs every workload
once and prints a summary table. See ``perfbench/README.md``.
"""
