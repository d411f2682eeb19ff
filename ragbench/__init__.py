"""Workload benchmark for the RAG engine: chat turns, index serving with
upserts, and the streaming corpus chain. Entry point: ``ragbench/run.py``."""
