"""Structured Streaming: the event-drop dedup jobs (``jobs``), the
isolated stream session and the catalog's stateful streams."""
