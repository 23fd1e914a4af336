"""Benchmark of the spark-graft engine: the ``curate``, ``star`` and
``medallion`` workloads (see ``perfbench/README.md``)."""
