"""Structured Streaming operators: per-key state (``stateful``) and the
keyed-upsert parquet sink (``upsert_sink``)."""
