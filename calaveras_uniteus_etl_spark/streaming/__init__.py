"""Structured Streaming surface.

The reference's only time-driven behavior is a polling scheduler
(/root/reference/core/app.py:157-410, SURVEY.md §2.K) — no streaming
semantics to port, and its one load path is the batch ETL job
(``etl.ingest``). This package holds the streaming operators the
registry's streaming and lifecycle plans run:

- ``windows``: watermarked tumbling-window aggregates (the streaming
  twin of plans/queries_streaming.s1_tumbling_window);
- ``sessionize``: built-in ``session_window`` aggregation plus a
  custom stateful operator via ``applyInPandasWithState`` (the
  streaming twin of s2_sessionization);
- ``ewma``: per-key trailing-window EWMA drift monitor, the second
  ``applyInPandasWithState`` operator (streaming twin of
  s7_ewma_drift) — a per-key recursion over event order that no
  built-in windowed aggregate expresses.
"""

from calaveras_uniteus_etl_spark.streaming.ewma import (  # noqa: F401
    ewma_with_state,
)
from calaveras_uniteus_etl_spark.streaming.windows import (  # noqa: F401
    windowed_agg,
)
from calaveras_uniteus_etl_spark.streaming.sessionize import (  # noqa: F401
    session_window_agg,
    sessionize_with_state,
)
