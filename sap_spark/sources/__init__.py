"""Sources: change-log readers (batch + streaming), OData wire-format feed
parsing, query-option pushdown surface, deterministic synthetic data
generators."""
