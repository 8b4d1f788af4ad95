"""URL-frontier + fetch scheduler (north_rule; no reference counterpart).

Iterative-batch supersteps over Iceberg/parquet state: robots gate →
per-host politeness top-k → schedule → discover → canonicalize → URL-seen
gate against seen ∪ pending (exact anti-join + optional per-partition
bloom short-circuit) → checkpoint. ``superstep.frontier_round`` is
one round; ``statestore.run_crawl`` is the one crawl loop (the ``crawl``
command drives it) and commits rounds through a ``StateStore``
(``ParquetDirectoryStore`` directories with a commit marker, or Iceberg
tables).
"""
