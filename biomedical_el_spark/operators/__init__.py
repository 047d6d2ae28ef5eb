"""Dataflow operators: blocking, pair generation, scoring, clustering,
dedup, ANN, text analysis."""
