"""Structured Streaming surface.

The reference's only time-driven behavior is a polling scheduler
(/root/reference/core/app.py:157-410, SURVEY.md §2.K) — no streaming
semantics to port, and its one load path is the batch ETL job
(``etl.ingest``). This package holds the one streaming operator the
registry's streaming and lifecycle plans run:

- ``windows.interval_join``: an event-time interval join that runs on
  batch and stream alike (watermarks bound the join state on streams).
"""
