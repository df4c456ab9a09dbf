"""Ingestion-loop benchmark for engine.Pipeline (see README.md)."""
