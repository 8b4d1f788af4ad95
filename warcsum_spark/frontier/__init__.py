"""URL-frontier + fetch scheduler (north_rule; no reference counterpart).

Iterative-batch supersteps over Iceberg/parquet state: robots gate →
per-host politeness top-k → schedule → discover → canonicalize → URL-seen
gate against seen ∪ pending (exact anti-join + optional per-partition
bloom/cuckoo short-circuit) → checkpoint.
"""
