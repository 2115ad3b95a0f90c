"""Relational + large-scale operators (SURVEY.md §2.3-§2.6 and the
training-data extension suite: dedup)."""
