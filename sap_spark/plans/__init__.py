"""Physical table layer: LakeTable (bucketed snapshot parquet format with
atomic commits, idempotent CDC MERGE, schema evolution, time travel)."""
