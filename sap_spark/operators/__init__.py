"""Operators: CDC dedup/fold, merge planning, point-in-time joins, and
training-data-pipeline operators (exact/near dedup, similarity search)."""
