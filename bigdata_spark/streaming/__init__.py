"""Structured Streaming: the keyed-upsert parquet sink (``upsert_sink``)."""
