"""Composed end-to-end pipelines — the reference's three entry points.

Each function chains the engine's stages exactly as the reference chains
its imperative steps, and returns the same XCom summary dict shape:

- ``run_top_tracks_etl``            ← ``run_spotify_etl``
  (spotify_etl.py:197-285): search → top-tracks scan → flatten →
  stats → CSV → summary.
- ``run_recently_played_etl``       ← ``run_spotify_recently_played_etl``
  (spotify_etl2.py:231-282): cursor scan → flatten → validate →
  idempotent append → summary → durable cursor. The one pipeline-2 path:
  the cursor beside the sink replaces the reference's ``now - 24h``.
- ``run_recently_played_analysis``  ← ``run_spotify_recently_played_analysis``
  (new.py:211-267): scan → wide flatten → rank → display → CSV → summary.

These are the product surface: a user of the reference switches their
Airflow PythonOperator callables for these, keeping the same config inputs
and the same returned summary fields. The Airflow seam is ``dags/`` —
DAGs call these via ``SparkSubmitOperator`` jobs.

Every summary statistic is computed as ONE multi-aggregate Spark pass
(``summary_record``) instead of the reference's stat-at-a-time loops.
"""

from .etl import (
    run_recently_played_analysis,
    run_recently_played_etl,
    run_top_tracks_etl,
)

__all__ = [
    "run_top_tracks_etl",
    "run_recently_played_etl",
    "run_recently_played_analysis",
]
