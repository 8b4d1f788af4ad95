"""R5 — per-host politeness priority queue.

``row_number`` over (host) ordered by (priority DESC, url ASC) capped at
the host's budget: a deterministic total order, reproducible across any
partitioning (ties broken by canonical URL — a stable, oracle-computable
key; the seen-set still hashes murmur3 per north_star).

Scale note (R7 skew): the window shuffles by ``host`` — a pathological
host concentrates its rows in one task, but the budget cap means only
``budget`` rows per host survive; we pre-trim with a salted two-phase
top-k (each salt bucket keeps ``budget`` best rows, then the winners
re-rank unsalted) so no single task ever materializes a hot host's full
candidate list. Politeness stays correct because per-salt top-budget is a
superset of global top-budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def schedule_per_host(
    candidates: DataFrame,
    politeness: DataFrame | None,
    default_budget: int = 2,
    salt_buckets: int = 0,
) -> DataFrame:
    """candidates(url, host, priority, ...) → scheduled rows with
    ``host_rank`` (1-based rank within host). ``politeness`` is a small
    (host, budget) dimension, broadcast; missing hosts get
    ``default_budget``.

    ``salt_buckets`` > 0 enables the two-phase skew-safe top-k: phase 1
    ranks within (host, salt) and keeps ≤ budget per bucket, phase 2
    re-ranks the survivors per host. Identical output, bounded task size.
    """
    df = candidates
    if politeness is not None:
        df = df.join(F.broadcast(politeness.select("host", "budget")), "host", "left")
    else:
        df = df.withColumn("budget", F.lit(None).cast("int"))
    df = df.withColumn("budget", F.coalesce("budget", F.lit(default_budget)))

    order = [F.col("priority").desc(), F.col("url").asc()]
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        df = (
            salted.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= F.col("budget"))
            .drop("_salt", "_r1")
        )
    w = Window.partitionBy("host").orderBy(*order)
    return (
        df.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= F.col("budget"))
        .drop("budget")
    )
