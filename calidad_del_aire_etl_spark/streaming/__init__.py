"""Structured Streaming: the file-source event stream into the
exactly-once incremental daily rollup (``jobs``)."""
