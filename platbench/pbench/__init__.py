"""Platform benchmark: batch-inventory, stream-ingest and stream-cep.

Entry point is ``platbench/run.py``; see ``platbench/README.md``.
"""
