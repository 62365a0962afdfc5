"""Closed-loop, oracle-checked benchmark of the arc_spark CDC engine and
the headline registry queries. Entry point: ``python3 perfbench/run.py``
(see README.md in this directory)."""
