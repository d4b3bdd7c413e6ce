"""Structured Streaming jobs: watermarked windows, sessionization,
cross-batch dedup and the per-micro-batch store maintenance modules, all
drained through ``drain.drain``. Pipeline 2's incremental ingest is not
here: its durable ``after`` cursor lives in ``pipelines/etl.py``."""

from .pipelines import dedup_stream, run_to_memory, windowed_stream

__all__ = ["dedup_stream", "run_to_memory", "windowed_stream"]
