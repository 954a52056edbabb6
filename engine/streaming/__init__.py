"""Structured Streaming layer (SURVEY §2.9).

- :mod:`engine.streaming.windows`     — event-time windowed aggregation
  (tumbling / sliding / session) with watermarks
- :mod:`engine.streaming.incremental` — the reference's incremental-poll
  pipeline as a real ``readStream`` + ``Trigger.AvailableNow`` query with
  stateful dedup and a ``foreachBatch`` sink; its ``_drain`` is the one
  place the engine starts a stream (``foreachBatch`` with a batch-id guard,
  checkpoint, ``availableNow`` trigger)
- :mod:`engine.streaming.sketches`    — sketch maintainers (CMS, HLL,
  heavy hitters, bottom-k, histogram), each a fold handed to that drain
- :mod:`engine.streaming.matview`     — a per-key aggregate snapshot
  maintained by a fold handed to that drain
- :mod:`engine.streaming.stateful`    — custom stateful operators
  (``applyInPandasWithState``) for stream-side dedup and statistics
"""
