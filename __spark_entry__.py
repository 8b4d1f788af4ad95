"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2
as a (spark, sf_dir) → DataFrame callable over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each one (same column
names, same rounding). Kernels with no SQL form (MinHash, SimHash, CDC, ...)
get their oracle from an independent per-row reference materialized to
parquet (warcsum_spark/oracle_refs.py).

Both, and ``bench.HEADLINE``, are derived from ``CATALOGUE`` at the end of
this file: one row per query, so a new query is one catalogue row.
"""

from __future__ import annotations

import inspect
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"
#: the scale factor the driver checks oracles at (a sibling of SF0001)
SF001 = os.path.join(os.path.dirname(SF0001), "sf0.01")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _values_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Literal dimension table as a JVM LocalRelation (``VALUES``), not
    ``createDataFrame``: the latter ships the rows as a Python-pickled
    RDD whose every (broadcast-)scan spawns Python workers — ~0.1-0.2 s
    per broadcast build for a handful of rows. Same rows, same column
    names/types (explicit CASTs from the DDL schema)."""
    cols = [s.strip().split(None, 1) for s in schema.split(",")]

    def _lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return f"{v!r}D"
        return str(v)

    vals = ",".join(
        "(" + ",".join(_lit(v) for v in r) + ")" for r in rows
    )
    sel = ", ".join(
        f"CAST(c{i + 1} AS {typ}) AS `{name}`"
        for i, (name, typ) in enumerate(cols)
    )
    cnames = ",".join(f"c{i + 1}" for i in range(len(cols)))
    return spark.sql(f"SELECT {sel} FROM (VALUES {vals}) AS t({cnames})")


#: scan-partition counts per (session id, table path) — the
#: ``df.rdd.getNumPartitions()`` probe inside ensure_min_parallelism
#: costs a plan→RDD conversion (~40 ms of driver time) per call; the
#: split count of a fixed path under a fixed session config is a
#: constant, so probe once. (Decision memo only — never query results.)
_SCAN_PARTS: dict[tuple[int, str], int] = {}


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + the min-parallelism guard for per-row-heavy consumers: the
    test tables are single-row-group parquet files, so a plain scan runs
    as ONE task and serializes any expression/Arrow-kernel work that
    precedes the first exchange. ``ensure_min_parallelism`` round-robins
    the scan up to ``defaultParallelism`` partitions — a trivial exchange
    of the raw rows here, a no-op at production scale where the input
    already has >= cores splits (see session.ensure_min_parallelism)."""
    df = _t(spark, sf_dir, name)
    key = (id(spark), os.path.join(sf_dir, name))
    n = _SCAN_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n
    target = spark.sparkContext.defaultParallelism
    if n < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# warcsum core semantics over the documents table
# ---------------------------------------------------------------------------

ORACLE_DIGEST_MANIFEST = (
    "SELECT doc_id, source AS warcfile, n_chars AS length, md5(text) AS digest FROM documents"
)


def q_doc_digest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/P8: digest manifest shape over documents (md5 of text bytes)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("source").alias("warcfile"),
        F.col("n_chars").alias("length"),
        F.md5(F.encode("text", "UTF-8")).alias("digest"),
    )


def _doc_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → manifest-shaped frame with a 4-hex-char digest so that
    same-digest/different-content clusters (manufactured collisions) occur."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.lit("docs").alias("warcfile"),
        F.col("doc_id").alias("offset"),
        F.col("n_chars").alias("length"),
        F.col("doc_id").cast("string").alias("uri"),
        F.col("lang").alias("date"),
        F.substring(F.md5(F.encode("text", "UTF-8")), 1, 4).alias("digest"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def q_doc_dedup_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A3/W1–W3 (the core warccollres+warcsumproc semantics) on
    documents: ext / copy_no / refersto within truncated-digest clusters."""
    from warcsum_spark.operators.collres import resolve_collisions

    ext = resolve_collisions(_doc_manifest(spark, sf_dir), content_key="payload")
    return ext.select(
        F.col("offset").alias("doc_id"),
        "digest",
        "ext",
        "copy_no",
        F.col("refersto_uri").cast("long").alias("ref_doc_id"),
    )


ORACLE_DOC_DEDUP = """
WITH d AS (
  SELECT doc_id, substr(md5(text), 1, 4) AS dkey, text FROM documents
), g AS (
  SELECT doc_id, dkey, text,
         min(doc_id) OVER (PARTITION BY dkey, text) AS grp_first,
         row_number() OVER (PARTITION BY dkey, text ORDER BY doc_id) AS copy_no
  FROM d
)
SELECT doc_id,
       dkey AS digest,
       CAST(dense_rank() OVER (PARTITION BY dkey ORDER BY grp_first) AS INT) AS ext,
       CAST(copy_no AS INT) AS copy_no,
       CASE WHEN copy_no > 1 THEN grp_first END AS ref_doc_id
FROM g
"""


# ---------------------------------------------------------------------------
# relational operator coverage (agg / window / join / filter / set / topk)
# ---------------------------------------------------------------------------

def q_pricing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5/A7: TPC-H Q1-style aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                              AS sum_qty,
       round(sum(l_extendedprice), 4)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
       round(avg(l_quantity), 4)                              AS avg_qty,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1–W3 shapes on events: row_number / dense_rank / first_value."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("event_id")
    w_type = W.partitionBy("user_id").orderBy("event_type")
    first_ev = F.first("event_id").over(
        w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rn = F.row_number().over(w_ord)
    return ev.select(
        "event_id",
        "user_id",
        rn.alias("rn"),
        F.dense_rank().over(w_type).alias("type_rank"),
        F.first("value").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("first_val"),
        F.when(rn > 1, first_ev).alias("ref_event_id"),
    )


ORACLE_WINDOW_EVENTS = """
SELECT event_id, user_id,
       CAST(row_number() OVER w_ord AS INT)  AS rn,
       CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS INT) AS type_rank,
       first_value(value) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_val,
       CASE WHEN row_number() OVER w_ord > 1 THEN
            first_value(event_id) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS ref_event_id
FROM events
WINDOW w_ord AS (PARTITION BY user_id ORDER BY event_id)
"""


def q_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast equi-join orders ⋈ customer, revenue per segment."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


ORACLE_JOIN_SEGMENTS = """
SELECT c_mktsegment,
       round(sum(o_totalprice), 4) AS revenue,
       count(*)                    AS n_orders,
       count(DISTINCT o_custkey)   AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/R5 analog: deterministic top-3 per key."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk")
    )


ORACLE_TOPK = """
SELECT user_id, event_id, value, CAST(rnk AS INT) AS rnk FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
"""


def q_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5–P8: predicate + projection (pushdown-friendly)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000.0)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


ORACLE_FILTER_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops / anti-join: customers with no big-ticket order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ORACLE_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
)
"""


def q_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: rollup aggregate with grand total."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


ORACLE_ROLLUP = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY ROLLUP (event_type)
"""


# ---------------------------------------------------------------------------
# training-data operators: dedup family
# ---------------------------------------------------------------------------

def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from warcsum_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


ORACLE_EXACT_DEDUP = """
SELECT doc_id,
       md5(text) AS content_hash,
       count(*)  OVER (PARTITION BY md5(text)) AS group_size,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
"""


def _docs_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies of doc_id<20 (near-dup pairs exist by
    construction — the base table's texts are synthetic-independent).

    The scan of the small test parquet yields 1–2 input partitions, which
    would cap the CPU-heavy per-row dedup work (shingling, signatures) at
    2 cores; repartition spreads it cluster-wide. At production scale the
    scan already yields thousands of splits and this is a near-no-op
    rebalance of row pointers."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    variants = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" perturbed tail token")).alias("text"),
    )
    return docs.unionByName(variants)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from warcsum_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs_with_neardups(spark, sf_dir), k=3, threshold=0.5
    )


ORACLE_NGRAM_JACCARD = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' perturbed tail token' AS text
  FROM documents WHERE doc_id < 20
), toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM base
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks WHERE len(t) >= 3
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
"""


def q_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment join (operators/setjoin.py,
    probe-side-only prefix filter): documents ∪ 20-word excerpts of
    doc_id<15 (each excerpt's shingles sit fully inside its parent —
    containment 1.0 by construction; Jaccard would score ~0.35 and
    miss them). Brute-force directed-containment DuckDB oracle over
    literal shingle strings, blind to the prefix filter."""
    from warcsum_spark.operators.setjoin import containment_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, 20), " "
        ).alias("text"),
    )
    return containment_join(docs.unionByName(excerpts), threshold=0.9, k=3)


ORACLE_CONTAINMENT = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 20), ' '
         ) AS text
  FROM documents WHERE doc_id < 15
), toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM base
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks WHERE len(t) >= 3
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common / CAST(sa.n_sh AS DOUBLE), 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
WHERE n_common / CAST(sa.n_sh AS DOUBLE) >= 0.9
"""


_REDIR_URL = "http://r.example/u"


def q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/redirects.py, pointer
    doubling): deterministic 3xx chains derived from doc_id — within
    each decade, d<9 redirects to d+1 (chains of 1..9 hops ending at
    the x9 URL), the 490s decade is a 10-cycle. max_hops=6 splits the
    chains: sources at decade offset <=2 need >=7 hops → unresolved,
    offset >=3 resolve, the cycle never resolves. The DuckDB oracle is
    a bounded RECURSIVE CTE — a step walker, structurally blind to the
    log-round doubling."""
    from warcsum_spark.operators.redirects import resolve_redirects

    doc_id = F.col("doc_id")
    d = doc_id % 10
    dst_id = (
        F.when(doc_id.between(490, 499), 490 + (d + 1) % 10)
        .when(d < 9, doc_id + 1)
    )
    edges = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit(_REDIR_URL), doc_id.cast("string")).alias("src"),
            F.concat(F.lit(_REDIR_URL), dst_id.cast("string")).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    return resolve_redirects(edges, max_hops=6)


ORACLE_REDIRECTS = f"""
WITH RECURSIVE edges AS (
  SELECT '{_REDIR_URL}' || CAST(doc_id AS VARCHAR) AS src,
         '{_REDIR_URL}' || CAST(CASE
             WHEN doc_id BETWEEN 490 AND 499
               THEN 490 + ((doc_id % 10) + 1) % 10
             WHEN doc_id % 10 < 9 THEN doc_id + 1
           END AS VARCHAR) AS dst
  FROM documents
  WHERE (doc_id BETWEEN 490 AND 499) OR (doc_id % 10 < 9)
), walk(src, ptr, hops) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.ptr
  WHERE w.hops < 6
), last AS (
  SELECT src, ptr, hops,
         row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
  FROM walk
), fin AS (
  SELECT l.src, l.ptr, l.hops,
         (NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = l.ptr)) AS term
  FROM last l WHERE rn = 1
)
SELECT src,
       CASE WHEN term THEN ptr END AS final_url,
       CAST(CASE WHEN term THEN hops END AS INTEGER) AS hops,
       term AS resolved
FROM fin
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/bpe.py, Sennrich et
    al. 2016 semantics with deterministic tie-break): 25 merges over
    the documents table. Iterative argmax is not SQL-expressible, so
    the oracle is the independent dict-based Python learner in
    oracle_refs.py materialized to parquet (minhash/simhash
    precedent) — kernel disagreement at ANY round cascades into every
    later rank, so the gate certifies the whole trajectory."""
    from warcsum_spark.operators.bpe import learn_bpe

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return learn_bpe(docs, n_merges=25)


def _oracle_bpe(sf_dir: str, n_merges: int = 25) -> str:
    from warcsum_spark.oracle_refs import materialize_bpe_oracle

    path = materialize_bpe_oracle(sf_dir, n_merges=n_merges)
    return (
        'SELECT CAST(rank AS INTEGER) AS rank, "left", "right", '
        f"CAST(pair_count AS BIGINT) AS pair_count FROM read_parquet('{path}')"
    )


def q_simjoin_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join (operators/setjoin.py,
    VernicaJoin/PPJoin): same corpus, k, and threshold as ngram_jaccard
    — and the SAME brute-force DuckDB oracle, which is blind to the
    prefix-filter algorithm. Gate green certifies the sub-quadratic
    plan produces the identical exact pair set."""
    from warcsum_spark.operators.setjoin import similarity_join

    return similarity_join(_docs_with_neardups(spark, sf_dir), threshold=0.5, k=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION stage: near-dup pairs (n-gram Jaccard ≥ 0.5 over
    the injected-near-dup corpus) → connected components (iterative
    min-label propagation, operators/clusters.py) → canonical-doc
    selection. The oracle recomputes components with a recursive CTE
    (min reachable id per node)."""
    from warcsum_spark.operators.clusters import (
        canonical_per_cluster,
        connected_components,
    )
    from warcsum_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs_with_neardups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    comp = connected_components(pairs)
    return canonical_per_cluster(docs, comp)


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' perturbed tail token' AS text
  FROM documents WHERE doc_id < 20
), toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM base
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks WHERE len(t) >= 3
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(lbl) AS component FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
FROM base d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (functions/sampling.py):
    split = md5-bucket of (seed, doc_id) — reproducible across engines,
    re-runs, and cluster sizes; the oracle recomputes membership."""
    from warcsum_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split")


def _oracle_hash_split() -> str:
    from warcsum_spark.functions.sampling import bucket_sql, split_bounds

    b = bucket_sql("doc_id")
    branches = ""
    bounds = split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    for name, _lo, hi in bounds[:-1]:
        branches += f"WHEN {b} < {hi} THEN '{name}' "
    return f"""
SELECT doc_id, CASE {branches}ELSE '{bounds[-1][0]}' END AS split FROM documents
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 3-gram shingles by document frequency
    (distinct per doc), ties broken lexicographically. orderBy+limit
    compiles to TakeOrdered — per-partition partial top-k, no full sort
    shuffle at corpus scale."""
    from warcsum_spark.operators.dedup import word_shingles

    docs = _tp(spark, sf_dir, "documents")
    sh = word_shingles(docs, k=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_count"))
        .orderBy(F.col("df_count").desc(), F.col("shingle").asc())
        .limit(20)
    )


ORACLE_TOP_NGRAMS = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks WHERE len(t) >= 3
  )
), c AS (
  SELECT shingle, count(*) AS df_count FROM sh GROUP BY shingle
)
SELECT shingle, df_count FROM c ORDER BY df_count DESC, shingle ASC LIMIT 20
"""


def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. The DuckDB oracle reads per-document
    signatures/band-hashes materialized by the INDEPENDENT per-row
    reference (oracle_refs.ref_minhash_doc — the property-tested twin of
    the fused Arrow kernel) and recomputes banding join, matching-band
    count, and the signature-agreement estimate in plain SQL. Recall vs
    exact Jaccard additionally asserted in tests/test_dedup.py."""
    from warcsum_spark.operators.dedup import minhash_lsh_duplicates

    return minhash_lsh_duplicates(
        _docs_with_neardups(spark, sf_dir), k=3, num_hashes=64, bands=16, threshold=0.5
    )


def _oracle_minhash_lsh(
    sf_dir: str,
    num_hashes: int = 64,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
) -> str:
    """DuckDB replica of minhash_lsh_duplicates: the per-doc signatures
    come from the independent row-at-a-time reference (materialized to
    parquet, IVF-regeneration precedent); band join + est_jaccard are
    recomputed in SQL, so kernel, banding, AND estimate are all checked."""
    from warcsum_spark.oracle_refs import materialize_minhash_oracle

    sig_path, band_path = materialize_minhash_oracle(
        sf_dir, num_hashes=num_hashes, k=k, bands=bands
    )
    return f"""
WITH cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
  FROM read_parquet('{band_path}') a
  JOIN read_parquet('{band_path}') b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT cand.doc_a, cand.doc_b, cand.n_bands,
       round(sum(CASE WHEN sa.sig_val = sb.sig_val THEN 1 ELSE 0 END)
             / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
FROM cand
JOIN read_parquet('{sig_path}') sa ON sa.doc_id = cand.doc_a
JOIN read_parquet('{sig_path}') sb ON sb.doc_id = cand.doc_b AND sb.pos = sa.pos
GROUP BY cand.doc_a, cand.doc_b, cand.n_bands
HAVING round(sum(CASE WHEN sa.sig_val = sb.sig_val THEN 1 ELSE 0 END)
             / CAST({num_hashes} AS DOUBLE), 6) >= {threshold}
"""


def q_cross_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T62 (operators/incremental.py): a new crawl batch (docs 0–29
    re-ingested under shifted ids, text identical) deduped against the
    persisted signature index of the full corpus. The oracle derives
    the batch's reference signatures from the SAME independent per-row
    parquet by id mapping — identical text ⇒ identical signature — so
    the engine's kernel recomputation, the batch-vs-index band join,
    and the estimates are all checked."""
    from warcsum_spark.operators.dedup import minhash_signatures
    from warcsum_spark.operators.incremental import cross_batch_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # The index is PERSISTED in production (read from parquet, ~100 B/doc)
    # — cache the synthesized stand-in so the corpus-wide minhash kernel
    # runs once, not once per plan reference (band stream + sig join).
    index = minhash_signatures(docs, with_bands=True).cache()
    batch = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    dups, _ = cross_batch_duplicates(batch, index, threshold=0.5)
    return dups


def _oracle_cross_batch(
    sf_dir: str,
    num_hashes: int = 64,
    threshold: float = 0.5,
) -> str:
    from warcsum_spark.oracle_refs import materialize_minhash_oracle

    sig_path, band_path = materialize_minhash_oracle(sf_dir)
    return f"""
WITH nb AS (
  SELECT doc_id + 5000000 AS new_id, band_id, band_hash
  FROM read_parquet('{band_path}') WHERE doc_id < 30
),
cand AS (
  SELECT nb.new_id, b.doc_id AS index_id, count(*) AS n_bands
  FROM read_parquet('{band_path}') b
  JOIN nb ON b.band_id = nb.band_id AND b.band_hash = nb.band_hash
  WHERE b.doc_id < 1000000  -- the reference parquet also carries the
                            -- minhash query's injected ids; the index
                            -- here is the BASE corpus only
  GROUP BY 1, 2
)
SELECT cand.new_id, cand.index_id, cand.n_bands,
       round(sum(CASE WHEN sa.sig_val = sb.sig_val THEN 1 ELSE 0 END)
             / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
FROM cand
JOIN read_parquet('{sig_path}') sa ON sa.doc_id = cand.new_id - 5000000
JOIN read_parquet('{sig_path}') sb ON sb.doc_id = cand.index_id AND sb.pos = sa.pos
GROUP BY cand.new_id, cand.index_id, cand.n_bands
HAVING round(sum(CASE WHEN sa.sig_val = sb.sig_val THEN 1 ELSE 0 END)
             / CAST({num_hashes} AS DOUBLE), 6) >= {threshold}
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (pigeonhole candidate join). The DuckDB
    oracle reads per-document simhashes from the independent pure-Python
    reference (own XXH64, plain-int bit voting — oracle_refs.py) and
    brute-forces ALL pairs with bit_count(xor(...)) ≤ d, so the oracle
    also certifies the pigeonhole candidate set is complete. d=3
    (4 × 16-bit blocks) is the scale-sane parameterization: narrower
    blocks (larger d) fatten the candidate join toward quadratic — at
    d=10 this query took 31 s at sf0.1 vs ~1 s at d=3."""
    from warcsum_spark.operators.dedup import simhash, simhash_near_pairs

    return simhash_near_pairs(simhash(_docs_with_neardups(spark, sf_dir)), max_hamming=3)


def _oracle_simhash(
    sf_dir: str, max_hamming: int = 3
) -> str:
    """DuckDB replica of simhash_near_pairs over the independent
    reference's per-doc simhashes; brute-force pair scan (fine at oracle
    scale) doubles as a completeness check on the engine's pigeonhole
    block join."""
    from warcsum_spark.oracle_refs import materialize_simhash_oracle

    path = materialize_simhash_oracle(sf_dir)
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM read_parquet('{path}') a
JOIN read_parquet('{path}') b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from warcsum_spark.functions.text import (
        quality_features,
        token_count,
        with_lang_id,
        word_count_approx_bpe,
    )

    from warcsum_spark.session import ensure_min_parallelism

    # unsplittable single-row-group source scans as 1 task; the regex/
    # replace arithmetic here is compute-bound, so buy parallelism first
    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    feats = quality_features(F.col("text"))
    return with_lang_id(docs, "text", "lang_guess").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        word_count_approx_bpe(F.col("text")).alias("bpe_units"),
        "lang_guess",
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


def q_quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule battery (functions/quality.py) over the
    documents table: measured values + per-rule booleans + composite
    keep. All codegen'd JVM expressions; the DuckDB oracle recomputes
    every rule from the same engine-portable primitives."""
    from warcsum_spark.functions.quality import with_quality_rules

    docs = _tp(spark, sf_dir, "documents")
    marked = with_quality_rules(docs)
    return marked.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_lines",
        "rule_ellipsis_lines",
        "rule_alpha_words",
        "rule_stopwords",
        "keep",
    )


def _oracle_quality_filter() -> str:
    from warcsum_spark.functions.quality import (
        ALPHA_WORD_RE,
        BULLET_LINE_RE,
        DEFAULT_BOUNDS,
        ELLIPSIS_LINE_RE,
        WS_CLASS,
    )
    from warcsum_spark.functions.text import STOPWORDS

    b = DEFAULT_BOUNDS

    def occ(expr: str, marker: str) -> str:
        return _sql_count_occ(expr, marker)

    def re_count(expr: str, pat: str) -> str:
        # DuckDB single-quoted literals are escape-free: pass backslashes
        # through verbatim, double only quotes
        p = pat.replace("'", "''")
        return f"len(regexp_extract_all({expr}, '{p}'))"

    stop_hits = " + ".join(
        f"CASE WHEN {occ('padded', f' {w} ')} > 0 THEN 1 ELSE 0 END"
        for w in STOPWORDS
    )
    return f"""
WITH staged AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm,
         regexp_replace(text, '\r\n?', chr(10), 'g') AS line_src
  FROM documents
), m AS (
  SELECT doc_id, text, norm, line_src,
         CASE WHEN norm = '' THEN 0 ELSE {occ('norm', ' ')} + 1 END AS n_words,
         {occ('text', chr(10))} + 1 AS n_lines,
         ' ' || lower(norm) || ' ' AS padded
  FROM staged
), meas AS (
  SELECT doc_id,
         CAST(n_words AS BIGINT) AS n_words,
         CASE WHEN n_words = 0 THEN NULL
              ELSE (length(norm) - (n_words - 1)) / CAST(n_words AS DOUBLE)
         END AS mean_word_len,
         CASE WHEN n_words = 0 THEN NULL
              ELSE ({occ('text', '#')} + {occ('text', '...')})
                   / CAST(n_words AS DOUBLE)
         END AS symbol_word_ratio,
         {re_count('line_src', BULLET_LINE_RE)} / CAST(n_lines AS DOUBLE)
           AS bullet_line_frac,
         {re_count('line_src', ELLIPSIS_LINE_RE)} / CAST(n_lines AS DOUBLE)
           AS ellipsis_line_frac,
         CASE WHEN n_words = 0 THEN NULL
              ELSE {re_count("' ' || norm", ALPHA_WORD_RE)}
                   / CAST(n_words AS DOUBLE)
         END AS alpha_word_frac,
         CAST({stop_hits} AS INT) AS stopword_hits
  FROM m
), rules AS (
  SELECT *,
    COALESCE(n_words >= {b["min_words"]} AND n_words <= {b["max_words"]}, false)
      AS rule_word_count,
    COALESCE(mean_word_len >= {b["min_mean_word_len"]}
             AND mean_word_len <= {b["max_mean_word_len"]}, false)
      AS rule_mean_word_len,
    COALESCE(symbol_word_ratio <= {b["max_symbol_word_ratio"]}, false)
      AS rule_symbol_ratio,
    COALESCE(bullet_line_frac <= {b["max_bullet_line_frac"]}, false)
      AS rule_bullet_lines,
    COALESCE(ellipsis_line_frac <= {b["max_ellipsis_line_frac"]}, false)
      AS rule_ellipsis_lines,
    COALESCE(alpha_word_frac >= {b["min_alpha_word_frac"]}, false)
      AS rule_alpha_words,
    COALESCE(stopword_hits >= {b["min_stopword_hits"]}, false) AS rule_stopwords
  FROM meas
)
SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
       round(alpha_word_frac, 6) AS alpha_word_frac, stopword_hits,
       rule_word_count, rule_mean_word_len, rule_symbol_ratio,
       rule_bullet_lines, rule_ellipsis_lines, rule_alpha_words,
       rule_stopwords,
       (rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
        AND rule_bullet_lines AND rule_ellipsis_lines AND rule_alpha_words
        AND rule_stopwords) AS keep
FROM rules
"""


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition — the full training-data path in ONE
    lazy plan: Gopher quality rules AND model score gate the corpus,
    survivors get corpus-wide paragraph dedup with document reassembly,
    rebuilt docs are chunked into 40/10 context windows, and chunks
    are packed into 2000-word shards in (doc, chunk) order. Every
    stage is an already-oracle-green operator; this query checks that
    they COMPOSE — the DuckDB oracle chains the same five stages."""
    from warcsum_spark.functions.quality import with_quality_rules
    from warcsum_spark.operators.chunking import chunk_documents
    from warcsum_spark.operators.classify import classify_quality
    from warcsum_spark.operators.packing import pack_shards
    from warcsum_spark.operators.para_dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gated = (
        classify_quality(with_quality_rules(docs))
        .filter(F.col("keep") & F.col("model_keep"))
        .select("doc_id", "text")
    )
    rebuilt = dedup_paragraphs(gated).select("doc_id", "text")
    chunks = chunk_documents(rebuilt, chunk_tokens=40, overlap=10)
    # 10^6 chunk headroom per doc: at 40/10 windows that is a 3×10^7-word
    # document before two docs could collide on the pack-order key.
    # cached: pack_shards consumes this frame twice (running sum +
    # bucket totals) and uncached each branch re-runs the whole quality→
    # para-dedup→chunk pipeline (plan showed the full subtree twice)
    keyed = chunks.withColumn(
        "okey", F.col("doc_id") * 1_000_000 + F.col("chunk_id")
    ).cache()
    packed = pack_shards(
        keyed, "n_chunk_words", budget=2000, order_col="okey", bucket_size=100_000
    )
    return packed.select(
        "doc_id", "chunk_id", "n_chunk_words", "cum_before", "shard"
    )


def _oracle_training_pipeline() -> str:
    from warcsum_spark.functions.quality import WS_CLASS
    from warcsum_spark.functions.repetition import _NONBLANK_RE, PARA_SPLIT_RE

    c, o = 40, 10
    step = c - o
    return f"""
WITH qkeep AS (
  SELECT doc_id FROM ({_oracle_quality_filter()}) q WHERE q.keep
), mkeep AS (
  SELECT doc_id FROM ({_oracle_classify()}) m WHERE m.model_keep
), gated AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN qkeep USING (doc_id) JOIN mkeep USING (doc_id)
), sp AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{PARA_SPLIT_RE}'),
                     x -> regexp_matches(x, '{_NONBLANK_RE}')) AS paras
  FROM gated
), p AS (
  SELECT doc_id, i - 1 AS para_idx, paras[i] AS para
  FROM sp, unnest(range(1, len(paras) + 1)) AS t(i)
), k AS (
  SELECT doc_id, para_idx, para,
         row_number() OVER (PARTITION BY para
                            ORDER BY doc_id, para_idx) AS rn
  FROM p
), reb AS (
  SELECT g.doc_id,
         coalesce((SELECT string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
                   FROM k WHERE k.doc_id = g.doc_id AND rn = 1), '') AS text
  FROM gated g
), wsrc AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN []
              ELSE string_split(norm, ' ') END AS words
  FROM (SELECT doc_id,
               regexp_replace(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'),
                              '^ | $', '', 'g') AS norm
        FROM reb)
), sized AS (
  SELECT doc_id, words, len(words) AS n,
         greatest(CAST(floor((len(words) - {o} + {step} - 1) / {step})
                       AS BIGINT), 1) AS k
  FROM wsrc WHERE len(words) > 0
), chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_id,
         CAST(least({c}, n - i * {step}) AS BIGINT) AS n_chunk_words,
         doc_id * 1000000 + i AS okey
  FROM sized, unnest(range(0, k)) AS t(i)
), packed AS (
  SELECT doc_id, chunk_id, n_chunk_words,
         CAST(coalesce(sum(n_chunk_words) OVER (ORDER BY okey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM chunks
)
SELECT doc_id, chunk_id, n_chunk_words, cum_before,
       CAST(floor(cum_before / 2000.0) AS BIGINT) AS shard
FROM packed
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): 40-word windows
    with 10-word overlap over the documents table (docs are ~50 words,
    so 1-3 chunks each). The DuckDB oracle rebuilds every window with
    list_slice arithmetic — texts compared verbatim."""
    from warcsum_spark.operators.chunking import chunk_documents

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=40, overlap=10)


def _oracle_chunk(c: int = 40, o: int = 10) -> str:
    from warcsum_spark.functions.quality import WS_CLASS

    step = c - o
    return f"""
WITH staged AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm
  FROM documents
), wsrc AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS words
  FROM staged
), sized AS (
  SELECT doc_id, words, len(words) AS n,
         greatest(CAST(floor((len(words) - {o} + {step} - 1) / {step})
                       AS BIGINT), 1) AS k
  FROM wsrc WHERE len(words) > 0
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(least({c}, n - i * {step}) AS BIGINT) AS n_chunk_words,
       array_to_string(list_slice(words, i * {step} + 1, i * {step} + {c}), ' ')
         AS chunk_text
FROM sized, unnest(range(0, k)) AS t(i)
"""


def q_script_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling (functions/scripts.py): per-script char
    counts, scripted fraction, dominant-script guess — explicit
    code-point ranges so java.util.regex and RE2 agree (the \\p{script}
    property syntaxes differ between them). The zh documents make the
    cjk/latin split discriminating."""
    from warcsum_spark.functions.scripts import with_script_profile

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_script_profile(docs)
    return out.select(
        "doc_id",
        "script_latin",
        "script_cjk",
        "script_cyrillic",
        "script_arabic",
        "script_char_frac",
        "script_guess",
    )


def _oracle_script_profile() -> str:
    from warcsum_spark.functions.scripts import SCRIPT_RANGES

    names = sorted(SCRIPT_RANGES)
    count_cols = ",\n         ".join(
        f"CAST(coalesce(len(regexp_extract_all(text, '{SCRIPT_RANGES[n]}')), 0)"
        f" AS BIGINT) AS c_{n}"
        for n in names
    )
    total = " + ".join(f"c_{n}" for n in names)
    m = f"greatest({', '.join(f'c_{n}' for n in names)})"
    guess = " ".join(f"WHEN c_{n} = m THEN '{n}'" for n in names)
    return f"""
WITH counts AS (
  SELECT doc_id, text,
         {count_cols}
  FROM documents
), agg AS (
  SELECT *, ({total}) AS tot, {m} AS m FROM counts
)
SELECT doc_id,
       c_latin AS script_latin,
       c_cjk AS script_cjk,
       c_cyrillic AS script_cyrillic,
       c_arabic AS script_arabic,
       coalesce(round(tot / CAST(greatest(length(text), 1) AS DOUBLE), 6), 0.0)
         AS script_char_frac,
       CASE WHEN m <= 0 THEN 'und' ELSE (CASE {guess} END) END AS script_guess
FROM agg
"""


def q_classify_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear (fastText-style) quality scoring
    (operators/classify.py): real hashing-trick plumbing, deterministic
    stub weights per the brief's stub convention. The DuckDB oracle
    recomputes the identical buckets, weight lookups, mean-pool, and
    sigmoid from the inlined weight list."""
    from warcsum_spark.operators.classify import classify_quality

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return classify_quality(docs).select("doc_id", "model_score", "model_keep")


def _oracle_classify() -> str:
    from warcsum_spark.functions.quality import WS_CLASS
    from warcsum_spark.operators.classify import stub_weights
    from warcsum_spark.operators.mixing import fine_bucket_sql

    w = stub_weights()
    warr = "[" + ", ".join(repr(x) for x in w) + "]"
    bucket = fine_bucket_sql("t", seed=7)
    return f"""
WITH staged AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '{WS_CLASS}+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm
  FROM documents
), wsrc AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS words
  FROM staged
), scored AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(0.0 +
           coalesce(list_sum(list_transform(words,
             t -> ({warr})[({bucket} % {len(w)}) + 1])), 0.0)
           / CAST(greatest(len(words), 1) AS DOUBLE)))), 6) AS model_score
  FROM wsrc
)
SELECT doc_id, model_score, model_score >= 0.5 AS model_keep FROM scored
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (operators/tfidf.py); sklearn
    smooth-idf definition, ties to the lexicographically smaller term.
    The DuckDB oracle recomputes tf, df, idf, and the ranking from the
    same normalized tokenization."""
    from warcsum_spark.operators.tfidf import top_terms

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    out = top_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", F.round("score", 6).alias("score")
    )


def _oracle_tfidf() -> str:
    from warcsum_spark.functions.quality import WS_CLASS

    return f"""
WITH staged AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '{WS_CLASS}+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm
  FROM documents
), wsrc AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS words
  FROM staged
), w AS (
  SELECT doc_id, len(words) AS n_words, unnest(words) AS term FROM wsrc
), tc AS (
  SELECT doc_id, term, n_words, count(*) AS tc FROM w GROUP BY ALL
), dfq AS (
  SELECT term, count(*) AS df_count FROM tc GROUP BY term
), n AS (
  SELECT count(*) AS nd FROM documents
), s AS (
  SELECT tc.doc_id, tc.term,
         tc.tc / tc.n_words * (ln((nd + 1) / (df_count + 1)) + 1) AS score
  FROM tc JOIN dfq USING (term) CROSS JOIN n
), r AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM s
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, round(score, 6) AS score
FROM r WHERE rank <= 3
"""


# Scale-sane driver parameterization (the simhash-d=3 precedent): the
# operator supports the full Gopher n=5..10 dup battery; the driver query
# runs the {5, 10} endpoints so the staged-projection codegen stays small
# (each extra n adds a transform/slice tree that Janino compiles once per
# session — ~1 s each — and an interpreted per-row array build).
_REP_BOUNDS = {"max_dup_ngram_frac": {5: 0.15, 10: 0.10}}


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition battery (functions/repetition.py) over the
    documents table: duplicate line/paragraph (char) fractions and dup
    n-gram fractions from the zero-shuffle JVM array tier, top-n-gram
    character fractions from the one-shuffle frequency tier, per-family
    rule booleans, and the composite keep. The DuckDB oracle recomputes
    every signal from the same split/distinct/aggregate primitives."""
    from warcsum_spark.functions.repetition import with_repetition_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    marked = with_repetition_signals(docs, bounds=_REP_BOUNDS)
    meas = [
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "dup_5gram_frac",
        "dup_10gram_frac",
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "top_4gram_char_frac",
    ]
    rules = [c for c in marked.columns if c.startswith("rule_")]
    return marked.select(
        "doc_id",
        *[F.round(c, 6).alias(c) for c in meas],
        *rules,
        "keep_repetition",
    )


def _oracle_repetition() -> str:
    """DuckDB twin of q_repetition_signals. Same unit definitions
    (module docstring of functions/repetition.py): blank units dropped,
    dup fracs over the unit multiset, top-n-gram mode with ties to the
    lexicographically largest n-gram, fraction clamped to 1.0."""
    from warcsum_spark.functions.quality import WS_CLASS
    from warcsum_spark.functions.repetition import (
        DEFAULT_REPETITION_BOUNDS,
        PARA_SPLIT_RE,
        _NONBLANK_RE,
    )

    B = dict(DEFAULT_REPETITION_BOUNDS, **_REP_BOUNDS)

    def grams(n: int) -> str:
        return (
            f"list_transform(range(1, greatest(len(words) - {n} + 2, 1)), "
            f"i -> array_to_string(list_slice(words, i, i + {n} - 1), ' '))"
        )

    dup_ngram_cols = ",\n         ".join(
        f"""CASE WHEN len(grams{n}) = 0 THEN NULL
              ELSE (len(grams{n}) - len(list_distinct(grams{n})))
                   / CAST(len(grams{n}) AS DOUBLE) END AS dup_{n}gram_frac"""
        for n in B["max_dup_ngram_frac"]
    )
    gram_defs = ",\n         ".join(
        f"{grams(n)} AS grams{n}" for n in sorted(
            set(B["max_dup_ngram_frac"]) | set(B["max_top_ngram_char_frac"])
        )
    )
    top_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, wc, {n} AS n, unnest(grams{n}) AS ngram FROM ngr"
        for n in B["max_top_ngram_char_frac"]
    )
    top_pivot = ",\n         ".join(
        f"max(CASE WHEN n = {n} THEN f END) AS top_{n}gram_char_frac"
        for n in B["max_top_ngram_char_frac"]
    )
    top_rules = ",\n    ".join(
        f"COALESCE(top_{n}gram_char_frac <= {t}, true) AS rule_top_{n}gram"
        for n, t in B["max_top_ngram_char_frac"].items()
    )
    dup_ngram_rules = ",\n    ".join(
        f"COALESCE(dup_{n}gram_frac <= {t}, true) AS rule_dup_{n}gram"
        for n, t in B["max_dup_ngram_frac"].items()
    )
    all_rules = (
        ["rule_dup_lines", "rule_dup_paras", "rule_dup_line_chars",
         "rule_dup_para_chars"]
        + [f"rule_top_{n}gram" for n in B["max_top_ngram_char_frac"]]
        + [f"rule_dup_{n}gram" for n in B["max_dup_ngram_frac"]]
    )
    return f"""
WITH staged AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm
  FROM documents
), base AS (
  SELECT doc_id, norm,
         list_filter(string_split(text, chr(10)),
                     x -> regexp_matches(x, '{_NONBLANK_RE}')) AS lines,
         list_filter(regexp_split_to_array(text, '{PARA_SPLIT_RE}'),
                     x -> regexp_matches(x, '{_NONBLANK_RE}')) AS paras,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS words
  FROM staged
), ngr AS (
  SELECT doc_id, lines, paras,
         CASE WHEN norm = '' THEN 0
              ELSE length(norm) - (len(words) - 1) END AS wc,
         {gram_defs}
  FROM base
), meas AS (
  SELECT doc_id,
         CASE WHEN len(lines) = 0 THEN NULL
              ELSE (len(lines) - len(list_distinct(lines)))
                   / CAST(len(lines) AS DOUBLE) END AS dup_line_frac,
         CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) = 0
              THEN NULL
              ELSE (list_sum(list_transform(lines, x -> length(x)))
                    - list_sum(list_transform(list_distinct(lines), x -> length(x))))
                   / CAST(list_sum(list_transform(lines, x -> length(x))) AS DOUBLE)
         END AS dup_line_char_frac,
         CASE WHEN len(paras) = 0 THEN NULL
              ELSE (len(paras) - len(list_distinct(paras)))
                   / CAST(len(paras) AS DOUBLE) END AS dup_para_frac,
         CASE WHEN coalesce(list_sum(list_transform(paras, x -> length(x))), 0) = 0
              THEN NULL
              ELSE (list_sum(list_transform(paras, x -> length(x)))
                    - list_sum(list_transform(list_distinct(paras), x -> length(x))))
                   / CAST(list_sum(list_transform(paras, x -> length(x))) AS DOUBLE)
         END AS dup_para_char_frac,
         {dup_ngram_cols}
  FROM ngr
), g AS (
{top_union}
), cnts AS (
  SELECT doc_id, wc, n, ngram, count(*) AS cnt FROM g GROUP BY ALL
), md AS (
  SELECT doc_id, n,
         least(cnt * (length(ngram) - (n - 1))
               / CAST(nullif(wc, 0) AS DOUBLE), 1.0) AS f,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY cnt DESC, ngram DESC) AS rn
  FROM cnts
), topfrac AS (
  SELECT doc_id,
         {top_pivot}
  FROM md WHERE rn = 1 GROUP BY doc_id
), rules AS (
  SELECT meas.*, {", ".join(f"top_{n}gram_char_frac" for n in B["max_top_ngram_char_frac"])},
    COALESCE(dup_line_frac <= {B["max_dup_line_frac"]}, true) AS rule_dup_lines,
    COALESCE(dup_para_frac <= {B["max_dup_para_frac"]}, true) AS rule_dup_paras,
    COALESCE(dup_line_char_frac <= {B["max_dup_line_char_frac"]}, true)
      AS rule_dup_line_chars,
    COALESCE(dup_para_char_frac <= {B["max_dup_para_char_frac"]}, true)
      AS rule_dup_para_chars,
    {top_rules},
    {dup_ngram_rules}
  FROM meas LEFT JOIN topfrac USING (doc_id)
)
SELECT doc_id,
       round(dup_line_frac, 6) AS dup_line_frac,
       round(dup_line_char_frac, 6) AS dup_line_char_frac,
       round(dup_para_frac, 6) AS dup_para_frac,
       round(dup_para_char_frac, 6) AS dup_para_char_frac,
       round(dup_5gram_frac, 6) AS dup_5gram_frac,
       round(dup_10gram_frac, 6) AS dup_10gram_frac,
       round(top_2gram_char_frac, 6) AS top_2gram_char_frac,
       round(top_3gram_char_frac, 6) AS top_3gram_char_frac,
       round(top_4gram_char_frac, 6) AS top_4gram_char_frac,
       {", ".join(all_rules)},
       ({" AND ".join(all_rules)}) AS keep_repetition
FROM rules
"""


_BOILERPLATE_PARA = "Subscribe to our newsletter for updates every week"


def q_para_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (operators/para_dedup.py)
    with document reassembly. A shared boilerplate paragraph is appended
    to every document (the real-world shape this pass removes: cookie
    banners, footers), so exactly one document keeps it. The DuckDB
    oracle partitions by the paragraph TEXT rather than its md5, which
    doubles as a digest-collision check on the engine's hash path."""
    from warcsum_spark.operators.para_dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat("text", F.lit("\n\n" + _BOILERPLATE_PARA)).alias("text"),
    )
    return dedup_paragraphs(docs)


def _oracle_para_dedup() -> str:
    from warcsum_spark.functions.repetition import _NONBLANK_RE, PARA_SPLIT_RE

    return f"""
WITH docs AS (
  SELECT doc_id,
         text || chr(10) || chr(10) || '{_BOILERPLATE_PARA}' AS text
  FROM documents
), sp AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{PARA_SPLIT_RE}'),
                     x -> regexp_matches(x, '{_NONBLANK_RE}')) AS paras
  FROM docs
), p AS (
  SELECT doc_id, i - 1 AS para_idx, paras[i] AS para
  FROM sp, unnest(range(1, len(paras) + 1)) AS t(i)
), k AS (
  SELECT doc_id, para_idx, para,
         row_number() OVER (PARTITION BY para
                            ORDER BY doc_id, para_idx) AS rn
  FROM p
), reb AS (
  SELECT doc_id,
         string_agg(para, chr(10) || chr(10) ORDER BY para_idx) AS text,
         count(*) AS n_kept
  FROM k WHERE rn = 1 GROUP BY doc_id
), tot AS (
  SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(reb.text, '') AS text,
       CAST(coalesce(tot.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept
FROM docs d
LEFT JOIN tot ON tot.doc_id = d.doc_id
LEFT JOIN reb ON reb.doc_id = d.doc_id
"""


_SPAN_BOILER = (
    "please subscribe to our weekly newsletter for the latest updates and offers"
)


def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated token-span removal (operators/span_dedup.py, the
    ExactSubstr pass of Lee et al. 2022): every token covered by a
    duplicated 8-gram is removed from the rebuilt document. A 12-token
    boilerplate sentence is appended to every document (the shape this
    pass exists for), so its interior 8-grams duplicate corpus-wide and
    vanish from all 500 docs, while the junction grams straddling each
    doc's own tail stay unique and survive. Runs the scale-default
    8-byte hash keys; the DuckDB oracle keys on the gram STRINGS, so the
    gate doubles as a hash-collision check (pytest separately pins
    key='hash' == key='text' on the same corpus)."""
    from warcsum_spark.operators.span_dedup import dedup_spans

    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id", F.concat("text", F.lit(" " + _SPAN_BOILER)).alias("text")
    )
    out = dedup_spans(docs, k=8)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


def _oracle_span_dedup(k: int = 8) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, text || ' ' || '{_SPAN_BOILER}' AS text FROM documents
), tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM docs
), g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+{k - 1}], ' ') AS gram
  FROM tok, unnest(range(1, len(toks) - {k} + 2)) AS t(i)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), cov AS (
  SELECT DISTINCT doc_id, pos + j AS idx
  FROM hits, unnest(range(0, {k})) AS u(j)
), t2 AS (
  SELECT doc_id, i - 1 AS idx, toks[i] AS tok
  FROM tok, unnest(range(1, len(toks) + 1)) AS v(i)
), kept AS (
  SELECT t2.doc_id, t2.idx, t2.tok
  FROM t2 LEFT JOIN cov ON t2.doc_id = cov.doc_id AND t2.idx = cov.idx
  WHERE cov.idx IS NULL
), reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       CAST(len(tok.toks) AS BIGINT) AS n_tokens,
       CAST(len(tok.toks) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
FROM docs d
JOIN tok ON tok.doc_id = d.doc_id
LEFT JOIN reb ON reb.doc_id = d.doc_id
"""


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): docs sharing
    ≥1 distinct 3-gram shingle with the benchmark slice (doc_id < 10),
    with the overlap count. Benchmark shingles broadcast — no corpus
    shuffle beyond the per-doc distinct."""
    from warcsum_spark.operators.decontam import contamination_overlap

    docs = _tp(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return contamination_overlap(corpus, bench, k=3, min_common=1)


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks WHERE len(t) >= 3
  )
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < 10
)
SELECT sh.doc_id, count(*) AS n_common
FROM sh JOIN bench USING (shingle)
WHERE sh.doc_id >= 10
GROUP BY sh.doc_id
HAVING count(*) >= 1
"""


def _sql_count_occ(expr: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{m}', ''))) / {len(marker)} AS INT)"
    )


def _oracle_text_stats() -> str:
    from warcsum_spark.functions.text import LANG_MARKERS, PUNCT_CHARS, STOPWORDS

    padded = "(' ' || lower(text) || ' ')"
    padded_trim = "(' ' || lower(trim(text)) || ' ')"
    score = {
        lang: " + ".join(_sql_count_occ(padded, mk) for mk in mks)
        for lang, mks in LANG_MARKERS.items()
    }
    # argmax with ASC-code tie-break = nested strict-greater comparisons
    langs = sorted(score)
    best_expr = f"'{langs[0]}'"
    best_score = f"({score[langs[0]]})"
    for lang in langs[1:]:
        s = f"({score[lang]})"
        best_expr = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best_expr} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    lang_sql = f"CASE WHEN {best_score} <= 0 THEN 'und' ELSE {best_expr} END"
    punct = " + ".join(_sql_count_occ("text", ch) for ch in PUNCT_CHARS)
    stop = " + ".join(_sql_count_occ(padded_trim, f" {w} ") for w in STOPWORDS)
    ntok = (
        "CASE WHEN trim(text) = '' THEN 0 ELSE "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) END"
    )
    # BPE-ish subword budget: Σ ceil(len(word)/6) over whitespace words
    bpe = (
        "CASE WHEN trim(text) = '' THEN 0 ELSE CAST(coalesce(list_sum("
        "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
        "w -> CAST(ceil(length(w) / 6.0) AS BIGINT))), 0) AS BIGINT) END"
    )
    return f"""
SELECT doc_id,
       {ntok} AS n_tokens,
       {bpe} AS bpe_units,
       {lang_sql} AS lang_guess,
       round(({punct}) / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
       round(coalesce(({stop}) / CAST(nullif({ntok}, 0) AS DOUBLE), 0.0), 6) AS stopword_ratio,
       round(coalesce(length(regexp_replace(trim(text), '\\s+', '', 'g'))
             / CAST(nullif({ntok}, 0) AS DOUBLE), 0.0), 6) AS mean_token_len
FROM documents
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from warcsum_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return brute_force_topk(corpus, queries, k=10)


ORACLE_ANN_BRUTE = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS score
  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id >= 5
), ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""


_EMB_DIM = 64  # embeddings.parquet vector width (all sf dirs)


def _sql_list(vals) -> str:
    """DuckDB DOUBLE[] literal from floats — repr round-trips exactly."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _planes_values(n_bits: int, n_tables: int) -> str:
    """VALUES rows (table_id, w, p) for every hyperplane of every table —
    the same seeded Gaussians as similarity._planes, inlined once so the
    sig expression is a constant-free GROUP BY over one cross join."""
    from warcsum_spark.operators.similarity import _planes

    rows = []
    for t in range(n_tables):
        planes = _planes(_EMB_DIM, n_bits, t)
        for bit, plane in enumerate(planes):
            rows.append(f"({t}, {1 << bit}, {_sql_list(plane)})")
    return ",\n  ".join(rows)


def _oracle_ann_lsh(n_bits: int = 4, n_tables: int = 16, k: int = 10) -> str:
    """Exact DuckDB replica of lsh_topk: same seeded hyperplanes (inlined
    as constants), same sign rule (dot > 0), same bucket join + per-query
    rank. The signature kernel's numpy matmul and DuckDB's sequential
    list_dot_product differ only below ~1e-15 — no plane dot in the
    synthetic data sits on that knife edge, so buckets are identical."""
    return f"""
WITH planes(table_id, w, p) AS (VALUES
  {_planes_values(n_bits, n_tables)}
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id >= 5),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 5),
c_sig AS (
  SELECT c.vec_id, pl.table_id,
         sum(CASE WHEN list_dot_product(c.e, pl.p) > 0 THEN pl.w ELSE 0 END) AS sig
  FROM c CROSS JOIN planes pl GROUP BY c.vec_id, pl.table_id
),
q_sig AS (
  SELECT q.query_id, pl.table_id,
         sum(CASE WHEN list_dot_product(q.e, pl.p) > 0 THEN pl.w ELSE 0 END) AS sig
  FROM q CROSS JOIN planes pl GROUP BY q.query_id, pl.table_id
),
cand AS (
  SELECT DISTINCT q_sig.query_id, c_sig.vec_id
  FROM c_sig JOIN q_sig ON c_sig.table_id = q_sig.table_id AND c_sig.sig = q_sig.sig
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_cosine_similarity(q.e, c.e), 6) AS score
  FROM cand JOIN q USING (query_id) JOIN c USING (vec_id)
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


def _oracle_embedding_near_dup(
    n_bits: int = 8, n_tables: int = 6, threshold: float = 0.95
) -> str:
    """DuckDB replica of embedding_near_dup_pairs over the query's injected
    corpus (base ∪ exact copies ∪ first-coordinate perturbations)."""
    return f"""
WITH planes(table_id, w, p) AS (VALUES
  {_planes_values(n_bits, n_tables)}
),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
corpus AS (
  SELECT vec_id, e FROM base
  UNION ALL SELECT vec_id + 1000000, e FROM base WHERE vec_id < 20
  UNION ALL SELECT vec_id + 2000000, list_concat([e[1] + 0.2], e[2:]) FROM base WHERE vec_id < 20
),
sig AS (
  SELECT corpus.vec_id, pl.table_id,
         sum(CASE WHEN list_dot_product(corpus.e, pl.p) > 0 THEN pl.w ELSE 0 END) AS sig
  FROM corpus CROSS JOIN planes pl GROUP BY corpus.vec_id, pl.table_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM sig a JOIN sig b
    ON a.table_id = b.table_id AND a.sig = b.sig AND a.vec_id < b.vec_id
),
scored AS (
  SELECT doc_a, doc_b, round(list_cosine_similarity(ca.e, cb.e), 6) AS cosine
  FROM cand JOIN corpus ca ON ca.vec_id = doc_a JOIN corpus cb ON cb.vec_id = doc_b
)
SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= {threshold}
"""


def _oracle_ann_ivf(
    sf_dir: str,
    n_centroids: int = 16,
    n_probe: int = 6,
    train_size: int = 4096,
    k: int = 10,
) -> str | None:
    """DuckDB replica of ivf_topk. The coarse quantizer is a MODEL, not a
    query: regenerate it outside Spark with the shared pure-numpy trainer
    (_kmeans_spherical) on the same deterministic training sample the
    engine uses (lowest-vec_id rows of the corpus — orderBy+limit, not a
    scan-order-dependent bare limit), then inline the centroids as
    constants. Assignment (argmax, ties → lowest centroid) and the probe
    top-n replicate the kernel's stable argsort."""
    import duckdb
    import numpy as np

    from warcsum_spark.operators.similarity import _kmeans_spherical

    pq = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(pq):
        return None
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{pq}') WHERE vec_id >= 5 "
        f"ORDER BY vec_id LIMIT {train_size}"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = _kmeans_spherical(X, n_centroids)
    cent_rows = ",\n  ".join(
        f"({i}, {_sql_list(C[i])})" for i in range(len(C))
    )
    norm_dot = (
        "list_dot_product(list_transform({e}, x -> x / "
        "greatest(sqrt(list_dot_product({e}, {e})), 1e-12)), cent.c)"
    )
    return f"""
WITH cent(centroid_id, c) AS (VALUES
  {cent_rows}
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id >= 5),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 5),
c_assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {norm_dot.format(e="c.e")} DESC, cent.centroid_id ASC
           ) AS r
    FROM c CROSS JOIN cent
  ) WHERE r = 1
),
q_probe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {norm_dot.format(e="q.e")} DESC, cent.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN cent
  ) WHERE r <= {n_probe}
),
cand AS (
  SELECT q_probe.query_id, c_assign.vec_id
  FROM c_assign JOIN q_probe USING (centroid_id)
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_cosine_similarity(q.e, c.e), 6) AS score
  FROM cand JOIN q USING (query_id) JOIN c USING (vec_id)
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k; DuckDB oracle regenerates the quantizer from the
    same deterministic training sample and inlines it as constants."""
    from warcsum_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_topk(corpus, queries, k=10, n_centroids=16, n_probe=6)


def _embedding_dim(sf_dir: str) -> int:
    """Vector width of the sf_dir's embeddings table, read driver-side
    from the parquet footer's first batch — no Spark job (the previous
    ``.first()`` probe cost one extra job per invocation)."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet"))
    batch = next(f.iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column("embedding")[0])


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k; the DuckDB oracle inlines the same seeded
    hyperplanes, so buckets — not just ranks — are cross-checked. Recall
    vs brute force additionally asserted in tests/test_text_similarity.py."""
    from warcsum_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_topk(corpus, queries, k=10, dim=dim, n_bits=4, n_tables=16)


# ---------------------------------------------------------------------------
# frontier operators over driver tables
# ---------------------------------------------------------------------------

def _event_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".test"))
    url = F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("event_id").cast("string"))
    return ev.select(
        url.alias("url"), host.alias("host"), F.col("value").alias("priority"),
        "event_type",
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane LSH buckets, DuckDB-checked
    with the planes inlined as constants (recall vs brute force also
    asserted in tests). Near-dup pairs are injected deterministically
    (exact copies + one-coordinate perturbations of vec_id<20) since the
    base embeddings are random."""
    from warcsum_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = _embedding_dim(sf_dir)  # parquet footer, not a .first() job
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    perturbed = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + F.lit(0.2)).otherwise(x)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies).unionByName(perturbed)
    return embedding_near_dup_pairs(corpus, threshold=0.95, dim=dim)


def q_semdedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T54 (operators/semdedup.py): SemDedup — k-means cluster the
    embedding corpus (quantizer shared with IVF-ANN, trained on the base
    table), then prune within-cluster cosine near-dups keeping the
    least-prototypical copy. Same deterministic near-dup injection as
    embedding_near_dup; the DuckDB oracle re-trains identical centroids
    from the parquet and replays assignment + rank-inequality pruning,
    blind to the blocked kernel."""
    from warcsum_spark.operators.semdedup import semdedup
    from warcsum_spark.operators.similarity import train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    perturbed = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + F.lit(0.2)).otherwise(x)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies).unionByName(perturbed)
    # SemDedup §2 scales k with N (the quadratic lives INSIDE clusters, so
    # cluster size must stay bounded as the corpus grows): k = N/256,
    # floored at 8 — identical to the fixed k=8 at every gate scale
    # (sf0.001–sf0.1 all have <= 2048 vectors), growing only in the
    # scaled-suite tiers. The count is parquet-metadata-only.
    k = _semdedup_k(emb.count())
    C = train_ivf_centroids(emb, n_centroids=k, seed=42)
    return semdedup(corpus, C, threshold=0.95)


def _semdedup_k(n_rows: int) -> int:
    """Centroid-count rule shared by the Spark query and the DuckDB
    oracle: max(8, min(1024, N // 256)) over the BASE embeddings table."""
    return max(8, min(1024, n_rows // 256))


def _oracle_semdedup(
    sf_dir: str,
    n_centroids: int | None = None,
    threshold: float = 0.95,
) -> str | None:
    """DuckDB replica of q_semdedup_docs: identical centroids regenerated
    via the shared pure-numpy trainer (the full base table is the
    training sample), assignment as an argmax window with the kernel's
    lowest-id tiebreak, pruning as a rank-inequality join — structurally
    blind to the blocked prefix-matmul kernel."""
    import duckdb
    import numpy as np

    from warcsum_spark.operators.similarity import _kmeans_spherical

    pq = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(pq):
        return None
    if n_centroids is None:
        n_rows = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{pq}')"
        ).fetchone()[0]
        n_centroids = _semdedup_k(n_rows)
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{pq}') ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = _kmeans_spherical(X, n_centroids)
    cent_rows = ",\n  ".join(f"({i}, {_sql_list(C[i])})" for i in range(len(C)))
    return f"""
WITH cent(centroid_id, c) AS (VALUES
  {cent_rows}
),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
corpus AS (
  SELECT vec_id, e FROM base
  UNION ALL SELECT vec_id + 1000000, e FROM base WHERE vec_id < 20
  UNION ALL SELECT vec_id + 2000000, list_concat([e[1] + 0.2], e[2:]) FROM base WHERE vec_id < 20
),
norm AS (
  SELECT vec_id,
         list_transform(e, x -> x / greatest(sqrt(list_dot_product(e, e)), 1e-12)) AS v
  FROM corpus
),
assign AS (
  SELECT vec_id, centroid_id, csim FROM (
    SELECT n.vec_id, cent.centroid_id,
           list_dot_product(n.v, cent.c) AS csim,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, cent.c) DESC, cent.centroid_id ASC
           ) AS r
    FROM norm n CROSS JOIN cent
  ) WHERE r = 1
),
ranked AS (
  SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id,
         round(csim, 6) AS centroid_sim,
         row_number() OVER (
           PARTITION BY centroid_id ORDER BY round(csim, 6) ASC, vec_id ASC
         ) AS rk
  FROM assign
),
dup AS (
  SELECT a.vec_id,
         bool_or(round(list_dot_product(na.v, nb.v), 6) >= {threshold}) AS is_dup
  FROM ranked a
  JOIN ranked b ON a.centroid_id = b.centroid_id AND b.rk < a.rk
  JOIN norm na ON na.vec_id = a.vec_id
  JOIN norm nb ON nb.vec_id = b.vec_id
  GROUP BY a.vec_id
)
SELECT r.vec_id, r.centroid_id, r.centroid_sim,
       coalesce(d.is_dup, false) AS is_dup
FROM ranked r LEFT JOIN dup d USING (vec_id)
"""


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: per-host politeness top-k on a synthetic URL table."""
    from warcsum_spark.frontier.politeness import schedule_per_host

    cand = _event_urls(spark, sf_dir).drop("event_type")
    return schedule_per_host(cand, politeness=None, default_budget=3).select(
        "host", "url", "priority", "host_rank"
    )


ORACLE_FRONTIER_SCHEDULE = """
WITH cand AS (
  SELECT 'http://host' || CAST(user_id % 20 AS VARCHAR) || '.test/p/' || CAST(event_id AS VARCHAR) AS url,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,
         value AS priority
  FROM events
)
SELECT host, url, priority, CAST(rnk AS INT) AS host_rank FROM (
  SELECT host, url, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rnk
  FROM cand
) WHERE rnk <= 3
"""


def q_url_seen_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 exact tier: candidates ∖ seen as a left_anti join."""
    from warcsum_spark.frontier.seen import filter_unseen

    urls = _event_urls(spark, sf_dir)
    cand = urls.filter(F.col("event_type") != "click").select("url").distinct()
    seen = urls.filter(F.col("event_type") == "click").select("url").distinct()
    return filter_unseen(cand, seen)


ORACLE_URL_SEEN = """
WITH urls AS (
  SELECT 'http://host' || CAST(user_id % 20 AS VARCHAR) || '.test/p/' || CAST(event_id AS VARCHAR) AS url,
         event_type
  FROM events
)
SELECT DISTINCT url FROM urls WHERE event_type <> 'click'
EXCEPT
SELECT DISTINCT url FROM urls WHERE event_type = 'click'
"""


def q_pack_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (operators/packing.py): documents in
    doc_id order fill 50k-char shards via the two-level prefix sum (no
    corpus-wide single-task sort). The DuckDB oracle is the global
    window the operator must equal."""
    from warcsum_spark.operators.packing import pack_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_shards(
        docs, "n_chars", budget=50_000, bucket_size=100
    ).select("doc_id", "n_chars", "cum_before", "shard")


ORACLE_PACK_SHARDS = """
WITH c AS (
  SELECT doc_id, n_chars,
         CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM documents
)
SELECT doc_id, n_chars, cum_before,
       CAST(floor(cum_before / 50000.0) AS BIGINT) AS shard
FROM c
"""


_MIX_WEIGHTS = {"en": 0.3, "de": 0.25, "fr": 0.25, "es": 0.2}  # zh dropped


def q_domain_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing (operators/mixing.py): reweight documents by lang
    to the target proportions, dropping zh (absent from the weights).
    Membership is the 16-bit md5 bucket, so the DuckDB oracle recomputes
    the identical sample; the per-group fractions come out of the same
    min(count/share) formula in both engines."""
    from warcsum_spark.operators.mixing import mix_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mix_corpus(docs, "lang", _MIX_WEIGHTS).select("doc_id", "lang")


def _oracle_domain_mix() -> str:
    from warcsum_spark.operators.mixing import fine_bucket_sql

    total = sum(_MIX_WEIGHTS.values())
    case = " ".join(
        f"WHEN '{g}' THEN CAST({w / total!r} AS DOUBLE)"
        for g, w in _MIX_WEIGHTS.items()
    )
    return f"""
WITH counts AS (
  SELECT lang, count(*) AS n_group FROM documents GROUP BY lang
), shares AS (
  SELECT lang, n_group, CASE lang {case} END AS share FROM counts
), fr AS (
  SELECT lang,
         least(share * (SELECT min(n_group / share) FROM shares
                        WHERE share IS NOT NULL AND share > 0) / n_group,
               1.0) AS mix_frac
  FROM shares WHERE share IS NOT NULL AND share > 0
)
SELECT d.doc_id, d.lang
FROM documents d JOIN fr ON fr.lang = d.lang
WHERE {fine_bucket_sql('d.doc_id')} / 65536.0 < fr.mix_frac
"""


def q_sitemap_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (frontier/sitemap.py): per-host sitemap.xml
    bodies are BUILT from the event URL table (entries in event_id
    order), then parsed back by the JVM regex extractor. The DuckDB
    oracle computes what the parse must yield from first principles —
    a round-trip identity check on the extraction rules."""
    from warcsum_spark.frontier.sitemap import parse_sitemap

    ev = _t(spark, sf_dir, "events")
    host = F.concat(
        F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
    )
    entry = F.concat(
        F.lit("<url>\n  <loc>http://"),
        host,
        F.lit("/p/"),
        F.col("event_id").cast("string"),
        F.lit("</loc>\n  <lastmod>2026-01-01</lastmod>\n  <priority>"),
        (F.col("event_id") % 10).cast("double") / 10,
        F.lit("</priority>\n</url>"),
    )
    bodies = (
        ev.select(host.alias("host"), F.struct("event_id", entry.alias("x")).alias("e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?>\n<urlset>\n'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("e")), lambda s: s["x"]
                    ),
                    "\n",
                ),
                F.lit("\n</urlset>"),
            ).alias("body")
        )
        .select(
            F.concat(F.lit("http://"), "host", F.lit("/sitemap.xml")).alias(
                "sitemap_url"
            ),
            "body",
        )
    )
    return parse_sitemap(bodies)


ORACLE_SITEMAP = """
WITH u AS (
  SELECT 'http://host' || CAST(user_id % 20 AS VARCHAR) || '.test' AS base,
         event_id
  FROM events
)
SELECT base || '/sitemap.xml' AS sitemap_url,
       CAST(row_number() OVER (PARTITION BY base ORDER BY event_id) - 1
            AS INT) AS entry_idx,
       base || '/p/' || CAST(event_id AS VARCHAR) AS url,
       '2026-01-01' AS lastmod,
       CAST(event_id % 10 AS DOUBLE) / 10 AS priority
FROM u
"""


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event picks up the
    most recent view event for the same user at-or-before its timestamp
    — the "state as of fetch time" primitive (robots snapshot, previous
    capture) in crawl terms. The DuckDB oracle is the NATIVE ``ASOF
    LEFT JOIN``, so the union-window implementation is checked against
    an engine that implements the semantics independently. Right-side
    timestamp ties are pre-aggregated away (max_by event_id) in both
    engines to keep the match well-defined."""
    from warcsum_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("view_value"),
            F.max("event_id").alias("view_event"),
        )
    )
    out = asof_join(
        clicks, views, on="user_id", right_cols=["view_value", "view_event"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("view_value", 6).alias("view_value"),
        "view_event",
    )


ORACLE_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts,
         max_by(value, event_id) AS view_value,
         max(event_id) AS view_event
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts,
       round(v.view_value, 6) AS view_value, v.view_event
FROM clicks c
ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/range_join.py): event values against
    50 overlapping intervals [7i, 7i+10] — each point matches 1-2
    intervals. The engine runs the bin-explode hash join (broadcast);
    the DuckDB oracle runs the naive inequality join, so the binning
    rewrite is checked against the direct semantics."""
    from warcsum_spark.operators.range_join import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", F.col("value"))
    intervals = spark.range(50).select(
        F.col("id").alias("iid"),
        (F.col("id") * 7.0).alias("lo"),
        (F.col("id") * 7.0 + 10.0).alias("hi"),
    )
    out = range_join(
        ev, intervals, "value", bin_width=8.0, broadcast_intervals=True
    )
    return out.select(
        "event_id", "iid", F.round("value", 6).alias("value")
    )


ORACLE_RANGE_JOIN = """
SELECT e.event_id, t.i AS iid, round(e.value, 6) AS value
FROM events e
JOIN range(50) t(i)
  ON e.value >= t.i * 7.0 AND e.value <= t.i * 7.0 + 10.0
"""


_BLOCKED_DOMAINS = ("host3.test", "host7.test", "host11.test")
_BLOCKED_URL_PATTERNS = ("/p/[0-9]*7$",)


def q_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist + URL keyword gate (frontier/blocklist.py,
    inline mode: JVM arrays_overlap over the parent-domain expansion —
    zero joins). The DuckDB oracle expresses the same semantics as
    direct equality/suffix predicates, so the suffix-expansion logic is
    cross-checked rather than transcribed. Join mode (broadcast
    equi-join for UT1-sized blocklists) is covered in pytest."""
    from warcsum_spark.frontier.blocklist import blocklist_gate

    urls = _event_urls(spark, sf_dir)
    return blocklist_gate(
        urls, _BLOCKED_DOMAINS, url_patterns=_BLOCKED_URL_PATTERNS
    ).select("url", "host", F.round("priority", 6).alias("priority"), "event_type")


ORACLE_BLOCKLIST = f"""
WITH urls AS (
  SELECT 'http://host' || CAST(user_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(event_id AS VARCHAR) AS url,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,
         value AS priority, event_type
  FROM events
)
SELECT url, host, round(priority, 6) AS priority, event_type
FROM urls
WHERE NOT regexp_matches(url, '{_BLOCKED_URL_PATTERNS[0]}')
  AND NOT ({" OR ".join(
      f"(host = '{d}' OR host LIKE '%.{d}')" for d in _BLOCKED_DOMAINS
  )})
"""


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/html.py): each document's text is
    wrapped in a deterministic HTML envelope exercising every rule
    (script/style elements, comments, attributes, all decoded entities),
    then extracted back. Pure JVM regexp chain, SQL-replicated."""
    from warcsum_spark.functions.html import html_to_text

    docs = _tp(spark, sf_dir, "documents")
    envelope = F.concat(
        F.lit(
            '<html><head><title>T &amp;lt; x</title>'
            "<style type='text/css'>p { color: red; }</style>"
            '<script src="a.js">var x = "<p>"; if (x &lt; 2) {}</script>'
            "</head><body><!-- boilerplate --><h1 class='t'>Doc&nbsp;"
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><br/>&quot;end&#39;</body></html>"),
    )
    extracted = html_to_text(envelope)
    return docs.select(
        "doc_id",
        extracted.alias("extracted"),
        F.length(extracted).alias("n_extracted"),
    )


def _oracle_html_extract() -> str:
    from warcsum_spark.functions.html import html_to_text_sql

    envelope = (
        "('<html><head><title>T &amp;lt; x</title>"
        "<style type=''text/css''>p { color: red; }</style>"
        '<script src="a.js">var x = "<p>"; if (x &lt; 2) {}</script>'
        "</head><body><!-- boilerplate --><h1 class=''t''>Doc&nbsp;' || "
        "CAST(doc_id AS VARCHAR) || '</h1><p>' || text || "
        "'</p><br/>&quot;end&#39;</body></html>')"
    )
    ext = html_to_text_sql(envelope)
    return f"""
SELECT doc_id, {ext} AS extracted, length({ext}) AS n_extracted FROM documents
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/html.py::redact_pii): doc text plus a
    deterministic contact-info suffix (email, phone, SSN, IPv4 derived
    from doc_id) so every rule fires on every row."""
    from warcsum_spark.functions.html import redact_pii

    docs = _tp(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    red = redact_pii(payload)
    return docs.select("doc_id", red.alias("redacted"), F.length(red).alias("n_redacted"))


def _oracle_pii_redact() -> str:
    from warcsum_spark.functions.html import redact_pii_sql

    payload = (
        "(text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or +1 (555) 010-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' ssn 123-45-6789 ip 10.0.0.' || CAST(doc_id % 255 AS VARCHAR))"
    )
    red = redact_pii_sql(payload)
    return f"""
SELECT doc_id, {red} AS redacted, length({red}) AS n_redacted FROM documents
"""


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (functions/html.py::extract_links — the frontier's
    html→candidate-URL input stage): deterministic <a href> envelopes built
    from doc_id, extracted by the Arrow UDF, exploded to (doc_id, link_no,
    href). The DuckDB oracle re-extracts with the same regex (group 1 via
    regexp_extract_all) — Python re and RE2 agree on this pattern class
    (no backreferences; \\b and lazy quantifiers are common subset)."""
    from warcsum_spark.functions.html import extract_links

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    html = F.concat(
        F.lit('<html><body><p>intro</p><a class="x" href="http://h'),
        (F.col("doc_id") % 20).cast("string"),
        F.lit('.test/p/'),
        F.col("doc_id").cast("string"),
        F.lit('">one</a> <A HREF=\'https://other.example/q?id='),
        F.col("doc_id").cast("string"),
        F.lit("'>two</A><a name='anchor-only'>no href</a>"),
        F.lit('<a data-x="1" href="/relative/'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">three</a></body></html>'),
    )
    exploded = docs.select(
        "doc_id",
        F.posexplode(extract_links(F.encode(html, "UTF-8"))).alias(
            "link_no", "href"
        ),
    )
    return exploded


ORACLE_LINK_EXTRACT = r"""
WITH h AS (
  SELECT doc_id,
         ('<html><body><p>intro</p><a class="x" href="http://h'
          || CAST(doc_id % 20 AS VARCHAR) || '.test/p/'
          || CAST(doc_id AS VARCHAR)
          || '">one</a> <A HREF=''https://other.example/q?id='
          || CAST(doc_id AS VARCHAR)
          || '''>two</A><a name=''anchor-only''>no href</a><a data-x="1" href="/relative/'
          || CAST(doc_id % 7 AS VARCHAR) || '">three</a></body></html>') AS html
  FROM documents WHERE doc_id < 500
),
l AS (
  SELECT doc_id,
         regexp_extract_all(html,
           '(?is)<a\b[^>]*?\bhref\s*=\s*["'']([^"''<>\s]+)', 1) AS links
  FROM h
)
SELECT doc_id, CAST(u['i'] AS INT) AS link_no, u['href'] AS href FROM (
  SELECT doc_id,
         unnest(list_transform(links, (x, i) -> {'i': i - 1, 'href': x})) AS u
  FROM l
)
"""


def q_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-style corpus stats."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


ORACLE_STATS_BY_LANG = """
SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS total_chars, round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (rows-only)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow mapInPandas feature extraction over binary media columns
    (deterministic stub decode; see operators/multimodal.py).

    Fully DuckDB-checked: the stub's feature bytes are a sha256 hex
    chain the oracle recomputes with its built-in sha256(), and the
    query projects EXACT integers recovered from the float features
    (byte_i = round(f_i·127.5 + 127.5) — float32 error ≤ 1e-5, so the
    round is lossless). Scalars only: the driver's canonicalizer can't
    factorize array<float>; the array-valued API is pytest-covered."""
    from warcsum_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text-as-blob").alias("kind"),
        F.encode("text", "UTF-8").alias("blob"),
    )
    feats = extract_features(media, dim=16)
    byte_vals = F.transform(
        "feature",
        lambda x, i: (i + F.lit(1)).cast("long")
        * F.round(x.cast("double") * 127.5 + 127.5, 0).cast("long"),
    )
    plain_bytes = F.transform(
        "feature", lambda x: F.round(x.cast("double") * 127.5 + 127.5, 0).cast("long")
    )
    lsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + x
    )
    return feats.select(
        "media_id",
        "kind",
        "feat_dim",
        lsum(plain_bytes).alias("feat_sum"),
        lsum(byte_vals).alias("feat_wsum"),
    )


ORACLE_MULTIMODAL = """
WITH m AS (
  SELECT doc_id AS media_id, 'text-as-blob' AS kind, sha256(text) AS hx
  FROM documents WHERE doc_id < 200
),
b AS (
  SELECT media_id, kind,
         list_transform(range(16), i ->
           (strpos('0123456789abcdef', substr(hx, 2*i+1, 1))-1)*16
           + strpos('0123456789abcdef', substr(hx, 2*i+2, 1))-1) AS bytes
  FROM m
)
SELECT media_id, kind, 16 AS feat_dim,
       CAST(list_sum(bytes) AS BIGINT) AS feat_sum,
       CAST(list_sum(list_transform(range(16), i -> (i+1)*bytes[i+1])) AS BIGINT) AS feat_wsum
FROM b
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) of the events log — the
    crawl/visit-grouping operator (operators/sessions.py): single hash
    exchange for lag + running-sum + session aggregate."""
    from warcsum_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, gap_seconds=1800)


# Both engines compare FLOORED epoch seconds (Spark's cast(ts as long)
# floors; DuckDB CAST(double AS BIGINT) rounds — hence the explicit FLOOR)
# and session_no is cast to BIGINT (DuckDB window SUM of int is HUGEINT).
ORACLE_SESSIONS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT *,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       MIN(ts)  AS start_ts,
       MAX(ts)  AS end_ts,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
         - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec,
       ROUND(SUM(value), 4) AS sum_value
FROM sessioned
GROUP BY user_id, session_no
"""


def q_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T29 (operators/boilerplate.py): host/source-scoped template-line
    removal. The synthetic documents are single-line, so the prep gives
    them web-page structure: a newline every 12 words plus a per-source
    NAV header and COPYRIGHT footer — exactly the lines the pass must
    strip (df = 100% within source) while the body lines stay."""
    from warcsum_spark.operators.boilerplate import remove_boilerplate

    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("NAV MENU "),
            F.col("source"),
            F.lit("\n"),
            F.regexp_replace("text", r"((?:\S+ ){12})", "$1\n"),
            F.lit("\nCOPYRIGHT 2020 "),
            F.col("source"),
        ).alias("text"),
    )
    return remove_boilerplate(docs, min_df_frac=0.5, min_docs=5)


def _oracle_boilerplate() -> str:
    from warcsum_spark.functions.repetition import _NONBLANK_RE

    return f"""
WITH docs AS (
  SELECT doc_id, source,
         'NAV MENU ' || source || chr(10) ||
         regexp_replace(text, '((?:\\S+ ){{12}})', '\\1' || chr(10), 'g') ||
         chr(10) || 'COPYRIGHT 2020 ' || source AS text
  FROM documents
), sp AS (
  SELECT doc_id, source, string_split(text, chr(10)) AS lines FROM docs
), l AS (
  SELECT DISTINCT doc_id, source, unnest(lines) AS line FROM sp
), gd AS (
  SELECT source, count(*) AS n_docs FROM docs GROUP BY source
), df AS (
  SELECT source, line, count(DISTINCT doc_id) AS df FROM l
  WHERE regexp_matches(line, '{_NONBLANK_RE}')
  GROUP BY source, line
), bl AS (
  SELECT df.source, list(df.line) AS bl
  FROM df JOIN gd USING (source)
  WHERE gd.n_docs >= 5 AND df.df >= gd.n_docs * 0.5
  GROUP BY df.source
), cleaned AS (
  SELECT sp.doc_id, sp.source, sp.lines,
         list_filter(sp.lines,
                     x -> bl.bl IS NULL OR NOT list_contains(bl.bl, x)) AS kept
  FROM sp LEFT JOIN bl ON bl.source = sp.source
)
SELECT doc_id, source,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_removed,
       array_to_string(kept, chr(10)) AS clean_text
FROM cleaned
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T30 (operators/inverted_index.py): term → (df, cf, postings) with
    the hot-term cap. The synthetic vocabulary is tiny and hot (df
    300-400 of 500 docs), so the prep appends one rare per-doc marker
    term (xtok<doc_id mod 97>) — rare terms carry full posting lists,
    the natural stopword-like vocabulary keeps exact stats with null
    postings, exercising both tiers of the operator.

    The operator API returns ``postings array<bigint>``; this driver
    query stringifies it (``array_join`` — null stays null for capped
    hot terms) because the driver's pandas canonicalizer cannot hash
    list cells (round-4 red row). pytest pins the array form."""
    from warcsum_spark.operators.inverted_index import build_inverted_index

    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text", F.lit(" xtok"), (F.col("doc_id") % 97).cast("string")
        ).alias("text"),
    )
    idx = build_inverted_index(docs, max_postings=30)
    return idx.withColumn("postings", F.array_join("postings", ","))


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31 (functions/sampling.py::sample_stratified): corpus
    rebalancing — downsample the dominant language, keep mid strata
    partially, leave unlisted strata at the default rate (here 1.0 so
    the tail survives whole). Deterministic md5-bucket membership, so
    the oracle recomputes the exact id set."""
    from warcsum_spark.functions.sampling import sample_stratified

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_stratified(
        docs,
        rates={"en": 0.25, "zh": 0.5, "es": 0.75},
        group_col="lang",
        default_rate=1.0,
    )


def _oracle_stratified() -> str:
    from warcsum_spark.functions.sampling import bucket_sql

    b = bucket_sql("doc_id")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {b} < CASE lang
  WHEN 'en' THEN 64
  WHEN 'zh' THEN 128
  WHEN 'es' THEN 192
  ELSE 256 END
"""


def q_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32 (operators/pagerank.py): link-graph PageRank as the frontier
    priority signal. Edges derive deterministically from events; dst
    ranges wider than src so nodes 40-49 are dangling (never fetched,
    no outlinks) — the mass-redistribution branch is exercised, not
    just the join."""
    from warcsum_spark.operators.pagerank import pagerank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    pr = pagerank(edges, damping=0.85, iters=4)
    return pr.select("node", F.round("rank", 8).alias("rank"))


def q_trustrank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T79 (operators/pagerank.py::trustrank): personalized PageRank
    from a trusted seed set {0..4} over the same link graph as
    `pagerank_links` — pages organic trust never reaches rank ≈ 0
    (the link-farm demotion signal). Same dangling-node structure
    (nodes 40-49), so the seed-directed mass return is exercised."""
    from warcsum_spark.operators.pagerank import trustrank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    seeds = spark.range(5).withColumnRenamed("id", "node")
    tr = trustrank(edges, seeds, damping=0.85, iters=4)
    return tr.select("node", F.round("rank", 8).alias("rank"))


def _oracle_trustrank() -> str:
    from warcsum_spark.operators.pagerank import trustrank_oracle_sql

    return trustrank_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        "SELECT * FROM (VALUES (0),(1),(2),(3),(4)) AS t(node)",
        damping=0.85,
        iters=4,
    )


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T121 (operators/pagerank.py::spam_mass): Gyöngyi link-spam
    mass — PageRank minus TrustRank from the {0..4} good core over
    the same link graph as `pagerank_links`/`trustrank_links`,
    with the paper's relative-mass threshold flag. Oracle = the two
    unrolled-CTE twins composed as derived tables."""
    from warcsum_spark.operators.pagerank import spam_mass

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    seeds = spark.range(5).withColumnRenamed("id", "node")
    return spam_mass(edges, seeds, damping=0.85, iters=4, rel_thresh=0.5)


def _oracle_spam_mass() -> str:
    from warcsum_spark.operators.pagerank import spam_mass_oracle_sql

    return spam_mass_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        "SELECT * FROM (VALUES (0),(1),(2),(3),(4)) AS t(node)",
        damping=0.85,
        iters=4,
        rel_thresh=0.5,
    )


def q_crawl_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T122 (operators/crawl_order.py): the Cho/Garcia-Molina/Page
    crawl-ordering evaluation over the shared link graph — hot-page
    recall at 10/25/50/100% crawl budgets under backlink-greedy,
    discovery-order, and deterministic-random orderings. Oracle =
    the generated DuckDB twin (global-window ranks, same pinned
    tie-breaks and exact-integer crawl cutoffs)."""
    from warcsum_spark.operators.crawl_order import crawl_ordering_eval

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    return crawl_ordering_eval(edges, hot_pct=10)


def _oracle_crawl_ordering() -> str:
    from warcsum_spark.operators.crawl_order import crawl_ordering_oracle_sql

    return crawl_ordering_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        hot_pct=10,
    )


def _oracle_pagerank() -> str:
    from warcsum_spark.operators.pagerank import pagerank_oracle_sql

    return pagerank_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        damping=0.85,
        iters=4,
    )


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T61 (operators/lpa.py): synchronous label-propagation communities
    on a deterministic clustered graph — 8 dense 10-node groups (edges
    stay within the user's mod-8 group) plus sparse mod-97 bridges, so
    LPA has real structure to find rather than one giant blob."""
    from warcsum_spark.operators.lpa import label_propagation

    ev = _t(spark, sf_dir, "events")
    g = F.col("user_id") % 8
    intra = ev.select(
        (g * 10 + F.col("event_id") % 10).alias("src"),
        (g * 10 + (F.col("event_id") / 10).cast("long") % 10).alias("dst"),
    )
    bridges = ev.filter(F.col("event_id") % 97 == 0).select(
        (g * 10).alias("src"),
        (((g + 1) % 8) * 10).alias("dst"),
    )
    return label_propagation(intra.unionByName(bridges), iters=5)


def _oracle_lpa() -> str:
    from warcsum_spark.operators.lpa import lpa_oracle_sql

    # _LPA_EDGES_SQL (defined beside T107, which scores this graph)
    return lpa_oracle_sql(_LPA_EDGES_SQL, iters=5)


def q_permute_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T60 (operators/shuffle.py): seeded corpus permutation — shard by
    md5 bucket, row_number within shard, dimension-sized offset table
    for the global position; no global sort anywhere."""
    from warcsum_spark.operators.shuffle import permute_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return permute_corpus(docs, n_shards=8, seed=42)


def _oracle_permute() -> str:
    from warcsum_spark.operators.shuffle import permute_oracle_sql

    return permute_oracle_sql("documents", n_shards=8, seed=42)


def q_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T59 (functions/normalize.py): Unicode canonicalization with
    accent folding over documents text that is deterministically
    dirtied first (accents injected, zero-width + space runs added) —
    the base corpus is ASCII, so the injection is what makes the
    normalization observable. Oracle = the same dirtying + the
    generated nfc_normalize/strip_accents twin expression."""
    from warcsum_spark.functions.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = F.concat(
        F.lit("​ "),
        F.replace(F.col("text"), F.lit("a"), F.lit("á")),
        F.lit("  tail"),
    )
    norm = normalize_text(dirty, accent_fold=True)
    return docs.select(
        "doc_id", norm.alias("norm"), F.length(norm).alias("n_chars")
    )


def _oracle_normalize() -> str:
    from warcsum_spark.functions.normalize import normalize_sql_expr

    dirty = "chr(8203) || ' ' || replace(text, 'a', 'á') || '  tail'"
    expr = normalize_sql_expr(dirty, accent_fold=True)
    return (
        f"SELECT doc_id, {expr} AS norm, length({expr}) AS n_chars "
        f"FROM documents"
    )


_TAGGING_TAXONOMY = {
    "storage": ["table", "row", "column", "fast table"],
    "execution": ["scan", "join", "agg", "sort", "hash"],
    "streaming": ["stream", "batch", "window"],
}


def q_charset_sniff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T63 (functions/charset.py): charset sniffing over deterministic
    HTML byte payloads built from documents — doc_id%3 rotates through
    a quoted utf-8 meta, a latin-1 alias meta, and a BOM with no meta,
    so all sniff branches the DuckDB twin can replicate are hit (the
    validity fallback is pytest-pinned; every gate row resolves via BOM
    or meta by construction)."""
    from warcsum_spark.functions.charset import sniff_charset

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 3
    body = (
        F.when(
            m == 0,
            F.encode(
                F.concat(F.lit('<meta charset="utf-8">'), F.col("text")), "UTF-8"
            ),
        )
        .when(
            m == 1,
            F.encode(
                F.concat(F.lit("<meta charset=latin-1>"), F.col("text")), "UTF-8"
            ),
        )
        .otherwise(
            F.concat(
                F.lit(bytearray(b"\xef\xbb\xbf")), F.encode(F.col("text"), "UTF-8")
            )
        )
    )
    return docs.select(
        "doc_id", sniff_charset(body, default="windows-1252").alias("charset")
    )


def _oracle_charset() -> str:
    from warcsum_spark.functions.charset import sniff_sql_expr

    body = (
        "CASE WHEN doc_id % 3 = 0 THEN encode('<meta charset=\"utf-8\">' || text) "
        "WHEN doc_id % 3 = 1 THEN encode('<meta charset=latin-1>' || text) "
        "ELSE '\\xEF\\xBB\\xBF'::BLOB || encode(text) END"
    )
    return (
        f"SELECT doc_id, {sniff_sql_expr(body, default='windows-1252')} AS charset "
        f"FROM documents"
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T64 (operators/quantiles.py): mergeable HDR-histogram quantile
    sketch — p50/p90/p99 document length per language from the bounded
    (lang, e, sub, cnt) bucket table; the oracle runs the identical
    integer bucketing + nearest-rank cut in DuckDB. The merge law
    (sketch ⊕ sketch == sketch of union) is pytest-pinned."""
    from warcsum_spark.operators.quantiles import hdr_quantiles, hdr_sketch

    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    sk = hdr_sketch(docs, ["lang"], "n_chars", sub_bits=5)
    return hdr_quantiles(sk, ["lang"], [0.5, 0.9, 0.99], sub_bits=5)


def _oracle_length_quantiles() -> str:
    from warcsum_spark.operators.quantiles import (
        hdr_quantiles_sql,
        hdr_sketch_sql,
    )

    sk = hdr_sketch_sql(
        "SELECT lang, n_chars FROM documents", ["lang"], "n_chars", 5
    )
    q = hdr_quantiles_sql(sk, ["lang"], [0.5, 0.9, 0.99], 5)
    return (
        f"SELECT lang, q, value, CAST(n AS BIGINT) AS n FROM ({q})"
    )


_TRIANGLE_EDGES_SQL = (
    "SELECT (user_id % 6) * 10 + event_id % 10 AS src, "
    "(user_id % 6) * 10 + CAST(floor(event_id / 10) AS BIGINT) % 10 AS dst "
    "FROM events "
    "UNION ALL SELECT (user_id % 6) * 10, (((user_id % 6) + 1) % 6) * 10 "
    "FROM events WHERE event_id % 13 = 0"
)


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T65 (operators/triangles.py): per-node triangle counts + local
    clustering coefficient (the link-farm density signal) on a
    deterministic 6-group graph — dense intra-group edges close many
    triangles, sparse mod-13 bridges almost none — via the
    degree-ordered node-iterator; the oracle runs the identical
    orientation + wedge-close join in DuckDB."""
    from warcsum_spark.operators.triangles import triangle_counts

    ev = _t(spark, sf_dir, "events")
    g = F.col("user_id") % 6
    intra = ev.select(
        (g * 10 + F.col("event_id") % 10).alias("src"),
        (g * 10 + (F.col("event_id") / 10).cast("long") % 10).alias("dst"),
    )
    bridges = ev.filter(F.col("event_id") % 13 == 0).select(
        (g * 10).alias("src"),
        (((g + 1) % 6) * 10).alias("dst"),
    )
    return triangle_counts(intra.unionByName(bridges))


def _oracle_triangles() -> str:
    from warcsum_spark.operators.triangles import triangles_oracle_sql

    return triangles_oracle_sql(_TRIANGLE_EDGES_SQL)


def q_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T66 (functions/entropy.py): character-class Shannon entropy +
    symbol stats over documents — the junk/stuffing kill signal. The
    entropy sum is a literal fixed-order 37-term expression chain on
    both engines (no aggregation-order float nondeterminism can
    exist); the full 256-bin byte tier and the zlib compressibility
    ratio are the pytest-pinned scale path (DuckDB has neither)."""
    from warcsum_spark.functions.entropy import with_char_entropy

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return with_char_entropy(docs, "text", id_cols=["doc_id"])


def _oracle_entropy() -> str:
    from warcsum_spark.functions.entropy import entropy_oracle_sql

    return entropy_oracle_sql("documents", "doc_id", "text")


def q_entropy_docs_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T66 scale tier (functions/entropy.py): 256-bin byte entropy +
    zlib compressibility — the ENGINE-DEFAULT quality signal (one Arrow
    pass per doc vs the oracle tier's 37 full-string replace-scans; the
    dsir_scores_xx precedent). The oracle is a materialized independent
    reference (oracle_refs.py::materialize_byte_entropy_oracle —
    Counter + math.fsum per row, no numpy), so the driver gate stays
    hash-green despite DuckDB lacking byte histograms and zlib."""
    from warcsum_spark.functions.entropy import byte_entropy, compress_ratio

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.round(byte_entropy("text"), 6).alias("byte_entropy"),
        compress_ratio("text").alias("compress_ratio"),
    )


def _oracle_entropy_bytes(sf_dir: str) -> str:
    from warcsum_spark.oracle_refs import materialize_byte_entropy_oracle

    path = materialize_byte_entropy_oracle(sf_dir)
    return (
        "SELECT doc_id, byte_entropy, compress_ratio "
        f"FROM read_parquet('{path}')"
    )


_URL_TEMPLATE_SQL = (
    "SELECT CASE "
    "WHEN event_id % 3 = 0 THEN 'http://h' || CAST(user_id % 5 AS VARCHAR)"
    " || '.test/post/' || CAST(event_id AS VARCHAR) || '/view' "
    "WHEN event_id % 3 = 1 THEN 'http://h' || CAST(user_id % 5 AS VARCHAR)"
    " || '.test/tag/' || CASE WHEN user_id % 2 = 0 THEN 'news' ELSE 'blog' END "
    "ELSE 'http://h' || CAST(user_id % 5 AS VARCHAR) || '.test/s/'"
    " || substring(md5(CAST(event_id AS VARCHAR)), 1, 16) END AS url "
    "FROM events"
)


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T67 (operators/urltemplates.py): path-template mining over URLs
    synthesized from events — numeric post ids collapse to {d}, hex
    session tokens to {h}, literal tag pages stay literal — so the
    trap-shaped templates dominate the counts and the literal ones
    stay small. Oracle = the identical RE2-safe rules in DuckDB."""
    from warcsum_spark.operators.urltemplates import mine_url_templates

    ev = _t(spark, sf_dir, "events")
    host = F.concat(
        F.lit("http://h"), (F.col("user_id") % 5).cast("string"), F.lit(".test")
    )
    m = F.col("event_id") % 3
    url = (
        F.when(
            m == 0,
            F.concat(
                host, F.lit("/post/"), F.col("event_id").cast("string"),
                F.lit("/view"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                host, F.lit("/tag/"),
                F.when(F.col("user_id") % 2 == 0, F.lit("news")).otherwise(
                    F.lit("blog")
                ),
            ),
        )
        .otherwise(
            F.concat(
                host, F.lit("/s/"),
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 16),
            )
        )
    )
    return mine_url_templates(ev.select(url.alias("url")), min_urls=2)


def _oracle_url_templates() -> str:
    from warcsum_spark.operators.urltemplates import templates_oracle_sql

    return templates_oracle_sql(_URL_TEMPLATE_SQL, min_urls=2)


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T68 (operators/drift.py): per-label centroid cosine between two
    deterministic 'crawl batches' (vec_id parity split) of the
    embeddings table — the distribution-shift monitor. Oracle = the
    identical centroids + cosine in DuckDB (positions are
    engine-internal join keys and never reach the output)."""
    from warcsum_spark.operators.drift import centroid_drift

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return centroid_drift(a, b, ["label"])


def _oracle_embedding_drift() -> str:
    from warcsum_spark.operators.drift import drift_oracle_sql

    return drift_oracle_sql(
        "SELECT label, embedding FROM embeddings WHERE vec_id % 2 = 0",
        "SELECT label, embedding FROM embeddings WHERE vec_id % 2 = 1",
        ["label"],
    )


def q_tag_topics_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T58 (operators/tagging.py): taxonomy keyword tagging over the
    documents table — token and phrase keywords compiled into one
    map-only replace-arithmetic projection; the oracle is the same
    expressions generated for DuckDB from the same dictionary."""
    from warcsum_spark.operators.tagging import tag_topics

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return tag_topics(docs, _TAGGING_TAXONOMY, min_hits=2)


def _oracle_tagging() -> str:
    from warcsum_spark.operators.tagging import tagging_oracle_sql

    return tagging_oracle_sql(_TAGGING_TAXONOMY, min_hits=2)


def q_snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T56 (operators/snapshot.py): two deterministic crawl snapshots
    derived from documents — prev drops doc_id%10==0, cur drops
    doc_id%7==0 and rewrites every doc_id%5==0 payload — so all four
    statuses (added/removed/changed/unchanged) are populated."""
    from warcsum_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(
        F.lit("http://doc"), F.col("doc_id").cast("string"), F.lit(".test/")
    ).alias("url")
    prev = docs.filter(F.col("doc_id") % 10 != 0).select(
        url, F.md5(F.col("text").cast("binary")).alias("digest")
    )
    cur = docs.filter(F.col("doc_id") % 7 != 0).select(
        url,
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.col("text"), F.lit("v2")).cast("binary")),
        )
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("digest"),
    )
    return snapshot_diff(prev, cur)


ORACLE_SNAPSHOT_DIFF = """
WITH prev AS (
  SELECT 'http://doc' || CAST(doc_id AS VARCHAR) || '.test/' AS url,
         md5(text) AS digest
  FROM documents WHERE doc_id % 10 <> 0
),
cur AS (
  SELECT 'http://doc' || CAST(doc_id AS VARCHAR) || '.test/' AS url,
         CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT coalesce(p.url, c.url) AS url,
       CASE WHEN p.digest IS NULL THEN 'added'
            WHEN c.digest IS NULL THEN 'removed'
            WHEN p.digest = c.digest THEN 'unchanged'
            ELSE 'changed' END AS status,
       p.digest AS prev_digest, c.digest AS cur_digest
FROM prev p FULL OUTER JOIN cur c ON p.url = c.url
"""


def q_hits_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T55 (operators/hits.py): HITS hubs/authorities on the same
    deterministic event-derived link graph as pagerank_links — nodes
    40–49 have no outlinks (pure authorities, hub 0) and the src range
    is denser, so both zero branches are exercised."""
    from warcsum_spark.operators.hits import hits

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    out = hits(edges, iters=4)
    return out.select(
        "node", F.round("hub", 8).alias("hub"), F.round("authority", 8).alias("authority")
    )


def _oracle_hits() -> str:
    from warcsum_spark.operators.hits import hits_oracle_sql

    return hits_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        iters=4,
    )


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33 (operators/anchors.py): anchor-text aggregation. Docs get
    synthetic pages with two links each — a per-doc target (7×13 id
    grid) anchored by the doc's language, and a shared hub target with
    two competing anchor variants — so the aggregation sees both long
    tails and a hot key with a tie-breakable top-k."""
    from warcsum_spark.operators.anchors import aggregate_anchor_text, anchor_pairs

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("http://d"), F.col("doc_id").cast("string"), F.lit(".test/")).alias("url"),
        F.concat(
            F.lit('<html><a href="http://site'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".test/p/"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit('">'),
            F.col("lang"),
            F.lit(' page</a> <a href="http://hub.test/">'),
            F.when(F.col("doc_id") % 3 == 0, F.lit("Hub")).otherwise(
                F.lit("THE HUB")
            ),
            F.lit("</a></html>"),
        ).alias("html"),
    )
    return aggregate_anchor_text(anchor_pairs(pages), k=2)


def _oracle_anchor_text() -> str:
    from warcsum_spark.operators.anchors import ANCHOR_PATTERN

    pat = ANCHOR_PATTERN.replace("'", "''")
    return f"""
WITH pages AS (
  SELECT 'http://d' || CAST(doc_id AS VARCHAR) || '.test/' AS url,
         '<html><a href="http://site' || CAST(doc_id % 7 AS VARCHAR)
         || '.test/p/' || CAST(doc_id % 13 AS VARCHAR) || '">' || lang
         || ' page</a> <a href="http://hub.test/">'
         || CASE WHEN doc_id % 3 = 0 THEN 'Hub' ELSE 'THE HUB' END
         || '</a></html>' AS html
  FROM documents
), h AS (
  SELECT url,
         regexp_extract_all(html, '{pat}', 1) AS hrefs,
         regexp_extract_all(html, '{pat}', 2) AS texts
  FROM pages
), p AS (
  SELECT url, hrefs[i] AS href, trim(texts[i]) AS anchor
  FROM h, unnest(range(1, len(hrefs) + 1)) AS t(i)
), c AS (
  SELECT href, anchor, count(*) AS cnt FROM p GROUP BY href, anchor
), tot AS (
  SELECT href, sum(cnt) AS n_refs FROM c GROUP BY href
), r AS (
  SELECT href, anchor, cnt,
         row_number() OVER (PARTITION BY href
                            ORDER BY cnt DESC, anchor ASC) AS rank
  FROM c
)
SELECT r.href, CAST(tot.n_refs AS BIGINT) AS n_refs,
       CAST(r.rank AS INT) AS rank, r.anchor, r.cnt
FROM r JOIN tot USING (href) WHERE r.rank <= 2
"""


_RECRAWL_NOW_EPOCH = 1705708800  # 2024-01-20T00:00:00Z, mid data range


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T35 (operators/recrawl.py): change-rate recrawl scheduling over a
    fetch history derived from events (one page per user; the payload
    digest is a coarse content version, so some pages change often and
    some never). Epoch projections keep the comparison timezone-proof."""
    from warcsum_spark.operators.recrawl import recrawl_schedule

    ev = _t(spark, sf_dir, "events")
    history = ev.select(
        F.concat(
            F.lit("http://s"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test/p/"),
            (F.col("user_id") % 97).cast("string"),
        ).alias("url"),
        F.col("ts"),
        F.md5(((F.floor("value").cast("int")) % 4).cast("string")).alias("digest"),
        F.col("event_id"),
    )
    sched = recrawl_schedule(
        history,
        now="2024-01-20T00:00:00Z",
        min_interval_sec=3600,
        max_interval_sec=14 * 24 * 3600,
        tiebreak_col="event_id",
    )
    return sched.select(
        "url",
        F.unix_timestamp("last_ts").alias("last_epoch"),
        "n_fetches",
        "n_changes",
        "interval_sec",
        F.unix_timestamp("next_due").alias("next_due_epoch"),
        "due",
    )


ORACLE_RECRAWL = f"""
WITH history AS (
  SELECT 'http://s' || CAST(user_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(user_id % 97 AS VARCHAR) AS url,
         ts,
         md5(CAST(CAST(floor(value) AS INT) % 4 AS VARCHAR)) AS digest,
         event_id
  FROM events
), lagged AS (
  SELECT url, ts, digest,
         lag(digest) OVER (PARTITION BY url ORDER BY ts, event_id) AS prev
  FROM history
), agg AS (
  SELECT url,
         count(*) AS n_fetches,
         sum(CASE WHEN prev IS NOT NULL AND digest <> prev THEN 1 ELSE 0 END) AS n_changes,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch,
         CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS span
  FROM lagged GROUP BY url
), iv AS (
  SELECT url, last_epoch, n_fetches, n_changes,
         CASE WHEN n_changes > 0
              -- floor, not bare CAST: DuckDB casts double→BIGINT by
              -- ROUNDING, Spark's .cast('long') truncates
              THEN least(greatest(CAST(floor(span / n_changes) AS BIGINT), 3600),
                         {14 * 24 * 3600})
              ELSE {14 * 24 * 3600} END AS interval_sec
  FROM agg
)
SELECT url, last_epoch, n_fetches, n_changes, interval_sec,
       last_epoch + interval_sec AS next_due_epoch,
       (last_epoch + interval_sec) <= {_RECRAWL_NOW_EPOCH} AS due
FROM iv
"""


def q_host_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T36 (frontier/budget.py): largest-remainder apportionment of a
    global fetch budget across hosts by priority mass, with a per-host
    cap that binds on the hottest hosts."""
    from warcsum_spark.frontier.budget import allocate_host_budgets

    ev = _t(spark, sf_dir, "events")
    pending = ev.select(
        F.concat(
            F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
        ).alias("host"),
        F.col("value").alias("priority"),
    )
    return allocate_host_budgets(pending, total_budget=500, max_per_host=40)


ORACLE_HOST_BUDGETS = """
WITH pending AS (
  SELECT 'host' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,
         value AS priority
  FROM events
), mass AS (
  SELECT host, round(sum(priority), 6) AS mass FROM pending GROUP BY host
), sh AS (
  SELECT host, mass, mass / sum(mass) OVER () * 500 AS share FROM mass
), cp AS (
  SELECT host, mass, greatest(least(share, 40.0), 0.0) AS capped FROM sh
), b AS (
  SELECT host, mass, CAST(floor(capped) AS BIGINT) AS base,
         round(capped - floor(capped), 6) AS rem
  FROM cp
), r AS (
  SELECT host, mass, base, rem,
         row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk,
         500 - sum(base) OVER () AS leftover
  FROM b
)
SELECT host, mass,
       CAST(least(base + CASE WHEN rnk <= leftover AND leftover > 0
                              THEN 1 ELSE 0 END, 40) AS BIGINT) AS budget
FROM r
"""


ORACLE_INVERTED_INDEX = r"""
WITH docs AS (
  SELECT doc_id, text || ' xtok' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
  FROM docs
), toks AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm WHERE t <> ''
), stats AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
  FROM toks GROUP BY term
), posts AS (
  SELECT term, list(DISTINCT doc_id ORDER BY doc_id) AS postings
  FROM toks GROUP BY term
)
SELECT s.term, s.df, s.cf,
       CASE WHEN s.df <= 30 THEN array_to_string(p.postings, ',')
            ELSE NULL END AS postings
FROM stats s JOIN posts p USING (term)
"""


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T37 (operators/cdx.py): CDX web-archive index rows over a capture
    set derived from documents — SURT urlkeys (reversed host, www-strip,
    lowercased path?query), 14-digit timestamps, manifest geometry. The
    synthetic URLs deliberately carry www., mixed case, ports, and query
    strings so every SURT rule is exercised at the gate."""
    from warcsum_spark.operators.cdx import cdx_index

    docs = _tp(spark, sf_dir, "documents")
    captures = docs.select(
        F.concat(
            F.lit("http://www.S"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".Example.test:8080/Page/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?b=2&A=1")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
        F.col("source").alias("warcfile"),
        (F.col("doc_id") * 1024).alias("offset"),
        F.col("n_chars").alias("length"),
        F.md5(F.encode("text", "UTF-8")).alias("digest"),
    )
    # core 7-field form at the gate; the mime/status columns are pytest-pinned
    return cdx_index(captures)


ORACLE_CDX = r"""
WITH captures AS (
  SELECT 'http://www.S' || CAST(doc_id % 20 AS VARCHAR) || '.Example.test:8080/Page/'
           || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0 THEN '?b=2&A=1' ELSE '' END AS url,
         make_timestamp((1704067200 + doc_id) * 1000000) AS ts,
         source AS warcfile,
         doc_id * 1024 AS "offset",
         n_chars AS length,
         md5(text) AS digest
  FROM documents
), surt AS (
  SELECT *,
         regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
  FROM captures
), parts AS (
  SELECT *,
         regexp_replace(lower(regexp_extract(rest, '^([^/:]+)', 1)),
                        '^www\.', '') AS host,
         regexp_replace(lower(regexp_extract(rest, '^[^/]*(/.*)?$', 1)),
                        '#.*$', '') AS path0
  FROM surt
)
SELECT array_to_string(list_reverse(string_split(host, '.')), ',') || ')'
         || CASE WHEN path0 = '' THEN '/' ELSE path0 END AS urlkey,
       strftime(ts, '%Y%m%d%H%M%S') AS timestamp,
       url, digest, warcfile AS filename,
       CAST("offset" AS BIGINT) AS "offset",
       CAST(length AS BIGINT) AS length
FROM parts
"""


def q_crawl_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T38 (frontier/traps.py): crawl-trap detection over an events-
    derived URL stream. Hosts h0–h4 are calendar traps (one digit
    template generates every URL); h5–h19 spread their URLs across
    letter-keyed templates and must NOT flag."""
    from warcsum_spark.frontier.traps import detect_traps

    ev = _t(spark, sf_dir, "events")
    urls = ev.select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
        ).alias("host"),
        F.concat(
            F.lit("http://h"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test"),
            F.when(
                F.col("user_id") % 20 < 5,
                F.concat(F.lit("/archive/"), F.col("event_id").cast("string")),
            ).otherwise(
                F.concat(
                    F.lit("/"),
                    F.col("event_type"),
                    F.lit("/"),
                    F.char(F.lit(97) + (F.col("event_id") % 15).cast("int")),
                )
            ),
        ).alias("url"),
    )
    return detect_traps(
        urls, min_urls=50, min_template_urls=30, min_share=0.5
    )


ORACLE_CRAWL_TRAPS = r"""
WITH urls AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,
         'http://h' || CAST(user_id % 20 AS VARCHAR) || '.test' ||
         CASE WHEN user_id % 20 < 5
              THEN '/archive/' || CAST(event_id AS VARCHAR)
              ELSE '/' || event_type || '/' || chr(97 + CAST(event_id % 15 AS INT))
         END AS url
  FROM events
), tmpl AS (
  SELECT host,
         regexp_replace(
           CASE WHEN regexp_extract(
                  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                  '^[^/]*(/[^?#]*)?', 1) = ''
                THEN '/'
                ELSE regexp_extract(
                  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                  '^[^/]*(/[^?#]*)?', 1)
           END, '[0-9]+', '<n>', 'g')
         || regexp_extract(
              regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
              '^[^?#]*(\?)', 1) AS template,
         url
  FROM urls
), per_tmpl AS (
  SELECT host, template, count(DISTINCT url) AS t_urls
  FROM tmpl GROUP BY host, template
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
              ORDER BY t_urls DESC, template ASC) AS rk
  FROM per_tmpl
), per_host AS (
  SELECT host,
         sum(t_urls) AS n_urls,
         count(*) AS n_templates,
         max(CASE WHEN rk = 1 THEN template END) AS top_template,
         max(CASE WHEN rk = 1 THEN t_urls END) AS top_urls
  FROM ranked GROUP BY host
)
SELECT host, n_urls, n_templates, top_template, top_urls,
       round(top_urls / CAST(n_urls AS DOUBLE), 6) AS top_share,
       (n_urls >= 50 AND top_urls >= 30
        AND top_urls / CAST(n_urls AS DOUBLE) >= 0.5) AS is_trap
FROM per_host
"""


_LM_NORM_SQL = r"""
  SELECT doc_id, lang,
         trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
  FROM documents
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T39 (operators/lm_score.py): CCNet-style bigram-LM perplexity —
    the model trains on the English slice (the trusted reference) and
    scores every document; non-English docs should surface with high
    perplexity."""
    from warcsum_spark.operators.lm_score import lm_perplexity

    docs = _tp(spark, sf_dir, "documents")
    return lm_perplexity(
        docs,
        reference_pred=F.col("lang") == "en",
        vocab_size=100,
        alpha=0.1,
    )


ORACLE_LM_PERPLEXITY = rf"""
WITH norm AS ({_LM_NORM_SQL}
), toks AS (
  SELECT doc_id, lang,
         CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(t, ' ') END AS w
  FROM norm
), ref_terms AS (
  SELECT unnest(w) AS term FROM toks WHERE lang = 'en'
), vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM ref_terms GROUP BY term
  ) ORDER BY c DESC, term ASC LIMIT 100
), bg_all AS (
  SELECT doc_id, lang, bg[1] AS v0, bg[2] AS w0
  FROM (
    SELECT doc_id, lang,
           unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS bg
    FROM toks WHERE len(w) >= 2
  )
), bg_mapped AS (
  SELECT doc_id, lang,
         CASE WHEN v0 IN (SELECT term FROM vocab) THEN v0 ELSE '<unk>' END AS v,
         CASE WHEN w0 IN (SELECT term FROM vocab) THEN w0 ELSE '<unk>' END AS w
  FROM bg_all
), model AS (
  SELECT v, w, count(*) AS c_vw FROM bg_mapped WHERE lang = 'en' GROUP BY v, w
), ctx AS (
  SELECT v, sum(c_vw) AS c_v FROM model GROUP BY v
), scored AS (
  SELECT b.doc_id,
         ln((coalesce(m.c_vw, 0) + 0.1)
            / (coalesce(c.c_v, 0) + 10.1)) AS lp
  FROM bg_mapped b
  LEFT JOIN model m ON b.v = m.v AND b.w = m.w
  LEFT JOIN ctx c ON b.v = c.v
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(sum(lp) / count(*), 6) AS avg_logprob
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logprob,
       round(exp(-a.avg_logprob), 6) AS perplexity
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T40 (operators/dsir.py): hashed-bigram importance weights — the
    English slice is the target distribution, the whole corpus is raw;
    per-doc log importance weight over 512 md5 buckets."""
    from warcsum_spark.operators.dsir import dsir_scores

    docs = _tp(spark, sf_dir, "documents")
    return dsir_scores(
        docs,
        target=docs.filter(F.col("lang") == "en"),
        n_buckets=512,
        alpha=0.1,
    )


ORACLE_DSIR = rf"""
WITH norm AS ({_LM_NORM_SQL}
), toks AS (
  SELECT doc_id, lang,
         CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(t, ' ') END AS w
  FROM norm
), bg AS (
  SELECT doc_id, lang, bg[1] AS v, bg[2] AS w
  FROM (
    SELECT doc_id, lang,
           unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS bg
    FROM toks WHERE len(w) >= 2
  )
), feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(v || ' ' || w), 1, 8)) AS BIGINT) % 512
           AS bucket
  FROM bg
), ht AS (
  SELECT bucket, count(*) AS c_t FROM feats WHERE lang = 'en' GROUP BY bucket
), hr AS (
  SELECT bucket, count(*) AS c_r FROM feats GROUP BY bucket
), j AS (
  SELECT coalesce(ht.bucket, hr.bucket) AS bucket,
         coalesce(c_t, 0) AS c_t, coalesce(c_r, 0) AS c_r
  FROM ht FULL OUTER JOIN hr ON ht.bucket = hr.bucket
), tot AS (
  SELECT sum(c_t) AS n_t, sum(c_r) AS n_r FROM j
), wt AS (
  SELECT bucket,
         ln(((c_t + 0.1) / (n_t + 51.2))
            / ((c_r + 0.1) / (n_r + 51.2))) AS lw
  FROM j, tot
), scored AS (
  SELECT f.doc_id, w.lw FROM feats f JOIN wt w USING (bucket)
), agg AS (
  SELECT doc_id, count(*) AS n_features, round(sum(lw), 6) AS log_weight,
         round(sum(lw) / count(*), 6) AS avg_log_weight
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_features, 0) AS n_features,
       a.log_weight, a.avg_log_weight
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T41 (operators/hostgraph.py): page-level links collapsed to the
    host graph with per-host connectivity stats. Hosts h20–h24 only
    ever appear as targets (pure sinks → NULL reciprocity)."""
    from warcsum_spark.operators.hostgraph import host_edges, host_graph_stats

    ev = _tp(spark, sf_dir, "events")
    links = ev.select(
        F.concat(
            F.lit("http://h"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test/p/"),
            F.col("event_id").cast("string"),
        ).alias("src_url"),
        F.concat(
            F.lit("http://h"),
            ((F.col("user_id") + F.col("event_id")) % 25).cast("string"),
            F.lit(".test/x/"),
            (F.col("event_id") % 7).cast("string"),
        ).alias("dst_url"),
    )
    return host_graph_stats(host_edges(links))


ORACLE_HOST_GRAPH = """
WITH links AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) || '.test' AS src_host,
         'h' || CAST((user_id + event_id) % 25 AS VARCHAR) || '.test' AS dst_host
  FROM events
), e AS (
  SELECT src_host, dst_host, count(*) AS n_links
  FROM links WHERE src_host <> dst_host
  GROUP BY src_host, dst_host
), out_side AS (
  SELECT e.src_host AS host, count(*) AS out_degree,
         sum(e.n_links) AS out_links, count(b.src_host) AS reciprocal
  FROM e LEFT JOIN e b
    ON e.src_host = b.dst_host AND e.dst_host = b.src_host
  GROUP BY e.src_host
), in_side AS (
  SELECT dst_host AS host, count(*) AS in_degree, sum(n_links) AS in_links
  FROM e GROUP BY dst_host
)
SELECT coalesce(o.host, i.host) AS host,
       coalesce(out_degree, 0) AS out_degree,
       coalesce(in_degree, 0) AS in_degree,
       CAST(coalesce(out_links, 0) AS BIGINT) AS out_links,
       CAST(coalesce(in_links, 0) AS BIGINT) AS in_links,
       coalesce(reciprocal, 0) AS reciprocal,
       round(reciprocal / CAST(out_degree AS DOUBLE), 6) AS reciprocity
FROM out_side o FULL OUTER JOIN in_side i ON o.host = i.host
"""


def q_host_url_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T43 (operators/hll.py): per-host distinct-URL estimates via a
    relational HyperLogLog sketch. URLs are synthesized per host from
    events (same deterministic recipe as the host graph), sketched per
    (host, crawl batch), merged across batches with union+max on the
    register table only, then estimated — exercising the full
    sketch → merge → estimate surface in one lazy plan. The oracle
    runs the identical register math directly (max is associative, so
    batch-then-merge ≡ direct)."""
    from warcsum_spark.operators.hll import hll_estimate, hll_merge, hll_sketch

    ev = _tp(spark, sf_dir, "events")
    pages = ev.select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
        ).alias("host"),
        F.concat(
            F.lit("http://h"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test/p/"),
            (F.col("event_id") % 1000).cast("string"),
        ).alias("url"),
        (F.col("event_id") % 2).alias("crawl_batch"),
    )
    per_batch = hll_sketch(pages, ["host", "crawl_batch"], "url")
    merged = hll_merge(per_batch, key_cols=["host", "bucket"])
    return hll_estimate(merged, ["host"]).orderBy("host")


def _oracle_host_url_cardinality() -> str:
    from warcsum_spark.operators.hll import hll_oracle_sql

    cte = (
        "src AS (\n"
        "  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,\n"
        "         'http://h' || CAST(user_id % 20 AS VARCHAR) || '.test/p/'\n"
        "           || CAST(event_id % 1000 AS VARCHAR) AS url\n"
        "  FROM events\n"
        ")"
    )
    return hll_oracle_sql(cte, "host", "url", key_alias="host")


#: hosts covering every PSL rule kind: normal multi-label suffixes,
#: wildcard (*.ck), exception (!www.ck), private-section rules
#: (github.io / s3.amazonaws.com / blogspot.com), unknown TLD
#: (default rule), and a bare TLD (NULL registrable domain).
_PSL_HOSTS = [
    "www.example.com",
    "news.bbc.co.uk",
    "a.github.io",
    "x.y.ck",
    "www.ck",
    "example.unknown",
    "ck",
    "deep.sub.archive.org",
    "b1.s3.amazonaws.com",
    "blog.blogspot.com",
]


def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T44 (functions/domains.py): public-suffix-list registrable
    domains (eTLD+1) over hosts synthesized from events. Zero-shuffle
    plan: four per-level broadcast joins + codegen'd greatest — host
    strings never exchange."""
    from warcsum_spark.functions.domains import (
        psl_rules_df,
        with_registrable_domain,
    )

    ev = _tp(spark, sf_dir, "events")
    hosts = F.array(*[F.lit(h) for h in _PSL_HOSTS])
    src = ev.select(
        F.col("event_id"),
        F.element_at(hosts, (F.col("user_id") % 10 + 1).cast("int")).alias(
            "host"
        ),
    )
    out = with_registrable_domain(src, psl_rules_df(spark), "host")
    return out.select(
        "host", "event_id", "public_suffix", "registrable_domain"
    ).orderBy("event_id")


def _oracle_registrable_domains() -> str:
    from warcsum_spark.functions.domains import psl_oracle_sql

    hosts_sql = ", ".join(f"'{h}'" for h in _PSL_HOSTS)
    cte = (
        "src AS (\n"
        f"  SELECT event_id, list_extract([{hosts_sql}],\n"
        "         CAST(user_id % 10 + 1 AS INT)) AS host\n"
        "  FROM events\n"
        ")"
    )
    return psl_oracle_sql(cte, "host", extra_cols=", event_id")


def q_dust_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T45 (operators/dust.py): mine parameter-irrelevance rules from
    (url, digest) crawl evidence. Synth corpus: ``page`` changes
    content (no-evidence when dropped — variant never crawled),
    ``sid`` is a session id (supports, zero violations → rule),
    ``v`` changes content and its variant IS crawled (violations →
    killed)."""
    from warcsum_spark.operators.dust import mine_param_rules

    e, u = F.col("event_id"), F.col("user_id")
    host = F.concat(F.lit("h"), (u % 5).cast("string"), F.lit(".test"))
    base = F.concat(
        F.lit("http://"), host, F.lit("/p/"), (e % 5).cast("string")
    )
    page = F.concat(F.lit("page="), (e % 3).cast("string"))
    sid = F.concat(F.lit("sid="), (e % 7).cast("string"))
    vv = F.concat(
        F.lit("v="), F.when(e % 8 == 0, F.lit("1")).otherwise(F.lit("2"))
    )
    with_v = F.when(e % 4 == 0, F.concat(F.lit("&"), vv)).otherwise(F.lit(""))
    with_sid = F.when(e % 2 == 0, F.concat(F.lit("&"), sid)).otherwise(
        F.lit("")
    )
    url = F.concat(base, F.lit("?"), page, with_v, with_sid)
    digest = F.md5(
        F.concat(
            base,
            F.lit("|"),
            page,
            F.when(e % 4 == 0, F.concat(F.lit("|"), vv)).otherwise(F.lit("")),
        )
    )
    src = _tp(spark, sf_dir, "events").select(
        host.alias("host"), url.alias("url"), digest.alias("digest")
    )
    return mine_param_rules(src, min_support=5).orderBy("host", "param")


ORACLE_DUST_SRC = """src AS (
  SELECT 'h' || CAST(user_id % 5 AS VARCHAR) || '.test' AS host,
         'http://h' || CAST(user_id % 5 AS VARCHAR) || '.test/p/'
           || CAST(event_id % 5 AS VARCHAR)
           || '?page=' || CAST(event_id % 3 AS VARCHAR)
           || CASE WHEN event_id % 4 = 0
                   THEN '&v=' || CASE WHEN event_id % 8 = 0 THEN '1' ELSE '2' END
                   ELSE '' END
           || CASE WHEN event_id % 2 = 0
                   THEN '&sid=' || CAST(event_id % 7 AS VARCHAR)
                   ELSE '' END AS url,
         md5('http://h' || CAST(user_id % 5 AS VARCHAR) || '.test/p/'
           || CAST(event_id % 5 AS VARCHAR)
           || '|page=' || CAST(event_id % 3 AS VARCHAR)
           || CASE WHEN event_id % 4 = 0
                   THEN '|v=' || CASE WHEN event_id % 8 = 0 THEN '1' ELSE '2' END
                   ELSE '' END) AS digest
  FROM events
)"""


def _oracle_dust_rules() -> str:
    from warcsum_spark.operators.dust import dust_oracle_sql

    return dust_oracle_sql(ORACLE_DUST_SRC, min_support=5)


def q_cc_star_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48 (operators/clusters.py::star_components): alternating star
    contraction on a LONG-CHAIN graph — 97 disjoint chains of ~40 hops
    (edges event_id → event_id−97), exactly the diameter regime where
    min-label propagation needs O(diameter) rounds and star contraction
    O(log). The oracle recomputes min-reachable-id per node with a
    recursive CTE, blind to both algorithms."""
    from warcsum_spark.operators.clusters import star_components

    ids = (
        _t(spark, sf_dir, "events")
        .select(F.col("event_id").alias("id"))
        .filter(F.col("id") < 4000)
    )
    pairs = ids.filter(F.col("id") >= 97).select(
        F.col("id").alias("doc_a"), (F.col("id") - 97).alias("doc_b")
    )
    return star_components(pairs)


ORACLE_CC_STAR_CHAINS = """
WITH RECURSIVE pairs AS (
  SELECT event_id AS doc_a, event_id - 97 AS doc_b
  FROM events WHERE event_id < 4000 AND event_id >= 97
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, min(lbl) AS component FROM reach GROUP BY node
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T47 (operators/cms.py): Count-Min sketch + candidate top-k over
    a deterministically skewed item stream (even event_ids spread over
    97 keys, odd ones over 7 — so k0..k6 are ~8× hotter). w=64 forces
    real bucket collisions, so the min-over-d-rows estimate is doing
    actual work; the oracle recomputes the identical sketch registers
    and estimates (cms_oracle_sql, generated beside the impl)."""
    from warcsum_spark.operators.cms import cms_sketch, cms_topk

    e = F.col("event_id")
    item = F.when(
        e % 2 == 0, F.concat(F.lit("k"), (e % 97).cast("string"))
    ).otherwise(F.concat(F.lit("k"), (e % 7).cast("string")))
    src = _tp(spark, sf_dir, "events").select(item.alias("item"))
    sk = cms_sketch(src, [], "item", d=3, w=64)
    return cms_topk(sk, src.distinct(), "item", k=15, d=3, w=64)


ORACLE_CMS_SRC = """src AS (
  SELECT CASE WHEN event_id % 2 = 0
              THEN 'k' || CAST(event_id % 97 AS VARCHAR)
              ELSE 'k' || CAST(event_id % 7 AS VARCHAR) END AS item
  FROM events
)"""


def _oracle_cms_heavy_hitters() -> str:
    from warcsum_spark.operators.cms import cms_oracle_sql

    return cms_oracle_sql(ORACLE_CMS_SRC, "item", k=15, d=3, w=64)


def q_wat_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T46 (operators/wat.py): WAT metadata envelopes — title + outlink
    extraction + digest + the byte-deterministic JSON envelope, all
    JVM codegen (to_json over a fixed-order struct). Synth corpus
    exercises titled/untitled (doc_id%5) and linked/linkless (doc_id%7)
    pages; md5 digest because the oracle engine lacks sha1 (the sink
    default stays sha1). The oracle rebuilds the envelope with DuckDB's
    to_json(struct_pack(...)) — both engines emit identical compact
    JSON for non-null fields, which the hash compare certifies."""
    from warcsum_spark.operators.wat import wat_metadata

    d = F.col("doc_id")
    title = F.when(
        d % 5 != 0,
        F.concat(F.lit("<title> Doc "), d.cast("string"), F.lit(" </title>")),
    ).otherwise(F.lit(""))
    links = F.when(
        d % 7 != 0,
        F.concat(
            F.lit('<a href="http://h'),
            (d % 20).cast("string"),
            F.lit(".test/p/"),
            d.cast("string"),
            F.lit('">x</a><a href=\'/rel/'),
            (d % 3).cast("string"),
            F.lit("'>y</a>"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        title,
        F.lit("</head><body>"),
        links,
        F.lit("</body></html>"),
    )
    pages = (
        _t(spark, sf_dir, "documents")
        .filter(d < 500)
        .select(
            F.concat(
                F.lit("http://h"),
                (d % 20).cast("string"),
                F.lit(".test/p/"),
                d.cast("string"),
            ).alias("url"),
            html.alias("html"),
        )
    )
    return wat_metadata(pages, digest="md5").drop("links")


ORACLE_WAT_METADATA = r"""
WITH h AS (
  SELECT 'http://h' || CAST(doc_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<html><head>'
         || CASE WHEN doc_id % 5 <> 0
                 THEN '<title> Doc ' || CAST(doc_id AS VARCHAR) || ' </title>'
                 ELSE '' END
         || '</head><body>'
         || CASE WHEN doc_id % 7 <> 0
                 THEN '<a href="http://h' || CAST(doc_id % 20 AS VARCHAR)
                      || '.test/p/' || CAST(doc_id AS VARCHAR)
                      || '">x</a><a href=''/rel/'
                      || CAST(doc_id % 3 AS VARCHAR) || '''>y</a>'
                 ELSE '' END
         || '</body></html>' AS html
  FROM documents WHERE doc_id < 500
),
m AS (
  SELECT url,
         '2015-01-01T00:00:00Z' AS "date",
         trim(regexp_extract(html, '(?is)<title[^>]*>([^<]*)</title', 1)) AS title,
         regexp_extract_all(html,
           '(?is)<a[^>]*?href[ \t\r\n]*=[ \t\r\n]*["'']([^"''<> \t\r\n]+)["'']',
           1) AS links,
         CAST(strlen(html) AS BIGINT) AS content_length,
         md5(html) AS payload_digest
  FROM h
)
SELECT url, "date", title,
       CAST(len(links) AS BIGINT) AS n_links,
       content_length, payload_digest,
       to_json(struct_pack(
         url := url, "date" := "date", title := title,
         n_links := CAST(len(links) AS BIGINT),
         content_length := content_length,
         payload_digest := payload_digest, links := links)) AS envelope
FROM m
"""


_BM25_QUERIES = [
    (1, "spark"), (1, "merge"),
    (2, "hash"), (2, "join"),
    (3, "vector"), (3, "stream"), (3, "window"),
    (4, "the"),  # stopword-grade hot query: exercises the salted top-k
]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T69 (operators/bm25.py): BM25 ranked retrieval — top-5 documents
    per keyword query. Query 4 is a corpus-wide stopword, so its rank
    window is a hot key and the two-phase salted trim path runs inside
    the gated query, not just in pytest."""
    from warcsum_spark.operators.bm25 import bm25_search

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    queries_df = _values_df(
        spark, _BM25_QUERIES, "query_id long, term string"
    )
    return bm25_search(docs, queries_df, k=5, salt_buckets=8)


def _oracle_bm25() -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return rf"""
WITH q(query_id, term) AS (VALUES {vals}),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
  FROM documents
), toks AS (
  SELECT doc_id,
         CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(t, ' ') END AS w
  FROM norm
), dl AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS doclen FROM toks
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(doclen) AS avgdl FROM dl
), stream AS (
  SELECT doc_id, unnest(w) AS term FROM toks
), pairs AS (
  SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
  FROM stream
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY term, doc_id
), dfs AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM pairs GROUP BY term
), contrib AS (
  SELECT q.query_id, p.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * (1.2 + 1.0)
           / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doclen / s.avgdl)) AS c
  FROM pairs p
  JOIN dfs d USING (term)
  JOIN q ON q.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN stats s
), scores AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         round(sum(c), 6) AS score
  FROM contrib GROUP BY query_id, doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rnk
  FROM scores
)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
"""


def q_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T70 (operators/hopdist.py): multi-source BFS crawl-depth labeling.
    The link graph is a deterministic 397-node expander-ish graph (two
    affine out-edges per node, mod a prime) so the BFS tree branches,
    collides, and cycles within the 6-hop budget — every code path
    (min-root collapse, visited anti-join, early frontier shrink) runs."""
    from warcsum_spark.operators.hopdist import hop_distance

    ev = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 397
    edges = (
        ev.select(h.alias("src"), ((h * 2 + 1) % 397).alias("dst"))
        .unionByName(
            ev.select(h.alias("src"), ((h * 5 + 2) % 397).alias("dst"))
        )
        .distinct()
    )
    seeds = _values_df(spark, [(0,), (1,), (2,)], "node long")
    return hop_distance(edges, seeds, max_hops=6)


ORACLE_HOP_DISTANCE = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_id % 397 AS src, ((event_id % 397) * 2 + 1) % 397 AS dst
    FROM events
    UNION ALL
    SELECT event_id % 397 AS src, ((event_id % 397) * 5 + 2) % 397 AS dst
    FROM events
  )
), walk(node, dist, root) AS (
  SELECT CAST(n AS BIGINT), 0, CAST(n AS BIGINT)
  FROM (VALUES (0), (1), (2)) s(n)
  UNION
  SELECT e.dst, w.dist + 1, w.root
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 6
), mind AS (
  SELECT node, min(dist) AS dist FROM walk GROUP BY node
)
SELECT w.node, CAST(m.dist AS INT) AS dist, min(w.root) AS root
FROM walk w
JOIN mind m ON w.node = m.node AND w.dist = m.dist
GROUP BY w.node, m.dist
"""


def q_revisit_rehydrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T71 (operators/revisits.py): revisit-record resolution — the read
    side of T57's dedup-aware sink. documents' duplicate texts become
    capture histories (first capture per md5 = response with payload,
    later captures = payload-less revisits) and the operator rehydrates
    every revisit from its stored original via the digest join; the
    binary WARC round-trip is pinned in pytest."""
    from warcsum_spark.operators.revisits import resolve_revisits

    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        F.concat(F.lit("http://site.example/"), F.col("doc_id").cast("string")).alias("uri"),
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("date"),
        "text",
    )
    # every 7th page is captured AGAIN later from a mirror — identical
    # text, so its md5 collides with the first capture and the prep
    # window turns it into a payload-less revisit
    recap = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("http://mirror.example/"), F.col("doc_id").cast("string")).alias("uri"),
        F.lpad((F.col("doc_id") + 1000000).cast("string"), 10, "0").alias("date"),
        "text",
    )
    caps = base.unionByName(recap).select(
        "uri",
        "date",
        F.lit("md5").alias("stored_algo"),
        F.md5(F.encode("text", "UTF-8")).alias("stored_digest_b32"),
        "text",
    )
    w = Window.partitionBy("stored_digest_b32").orderBy("date", "uri")
    members = caps.withColumn("_rn", F.row_number().over(w)).select(
        "uri",
        "date",
        "stored_algo",
        "stored_digest_b32",
        F.when(F.col("_rn") == 1, F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("warc_type"),
        F.when(F.col("_rn") == 1, F.encode("text", "UTF-8"))
        .otherwise(F.encode(F.lit(""), "UTF-8"))
        .alias("payload"),
    )
    out = resolve_revisits(members)
    return out.select(
        "uri",
        "date",
        "warc_type",
        "resolved",
        "ref_uri",
        "ref_date",
        F.decode("payload", "UTF-8").alias("payload_text"),
    )


ORACLE_REVISIT_REHYDRATE = """
WITH caps AS (
  SELECT 'http://site.example/' || CAST(doc_id AS VARCHAR) AS uri,
         lpad(CAST(doc_id AS VARCHAR), 10, '0') AS date,
         md5(text) AS dg, text
  FROM documents
  UNION ALL
  SELECT 'http://mirror.example/' || CAST(doc_id AS VARCHAR) AS uri,
         lpad(CAST(doc_id + 1000000 AS VARCHAR), 10, '0') AS date,
         md5(text) AS dg, text
  FROM documents WHERE doc_id % 7 = 0
), rn AS (
  SELECT *, row_number() OVER (PARTITION BY dg ORDER BY date, uri) AS rn
  FROM caps
), firsts AS (
  SELECT dg, uri AS f_uri, date AS f_date, text AS f_text
  FROM rn WHERE rn = 1
)
SELECT r.uri, r.date,
       CASE WHEN r.rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
       TRUE AS resolved,
       CASE WHEN r.rn = 1 THEN NULL ELSE f.f_uri END AS ref_uri,
       CASE WHEN r.rn = 1 THEN NULL ELSE f.f_date END AS ref_date,
       CASE WHEN r.rn = 1 THEN r.text ELSE f.f_text END AS payload_text
FROM rn r JOIN firsts f ON r.dg = f.dg
"""


def q_dsir_scores_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T40 scale tier (operators/dsir.py, hash_fn='xxhash64'): the same
    DSIR estimator with the JVM-native seed-chained xxhash64 bucket in
    place of md5+conv — measured ~2.3× cheaper on the bigram stream,
    which is the operator's dominant cost at corpus scale. Oracle is
    file-backed (minhash precedent): a pure-Python XXH64 twin
    materializes the per-doc feature stream, DuckDB re-runs the whole
    estimator arithmetic on it."""
    from warcsum_spark.operators.dsir import dsir_scores

    docs = _tp(spark, sf_dir, "documents")
    return dsir_scores(
        docs,
        target=docs.filter(F.col("lang") == "en"),
        n_buckets=512,
        alpha=0.1,
        hash_fn="xxhash64",
    )


def _oracle_dsir_xx(sf_dir: str) -> str:
    from warcsum_spark.oracle_refs import materialize_dsir_xx_oracle

    path = materialize_dsir_xx_oracle(sf_dir, n_buckets=512)
    return f"""
WITH f AS (
  SELECT * FROM read_parquet('{path}')
), t AS (
  SELECT bucket, sum(n) AS c_t FROM f WHERE is_target GROUP BY bucket
), r AS (
  SELECT bucket, sum(n) AS c_r FROM f GROUP BY bucket
), tot AS (
  SELECT (SELECT sum(c_t) FROM t) AS n_t, (SELECT sum(c_r) FROM r) AS n_r
), lw AS (
  SELECT r.bucket,
         ln(((coalesce(t.c_t, 0) + 0.1) / (tot.n_t + 0.1 * 512))
            / ((r.c_r + 0.1) / (tot.n_r + 0.1 * 512))) AS lw
  FROM r LEFT JOIN t USING (bucket) CROSS JOIN tot
), per_doc AS (
  SELECT f.doc_id, sum(f.n) AS nf,
         round(sum(lw.lw * f.n), 6) AS log_weight,
         round(sum(lw.lw * f.n) / sum(f.n), 6) AS avg_log_weight
  FROM f JOIN lw USING (bucket)
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       coalesce(p.nf, 0) AS n_features,
       p.log_weight, p.avg_log_weight
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T72 (operators/mixing.py::temperature_mix): multilingual
    temperature sampling at alpha=0.3 — the dominant language flattens
    toward the rarest one, per-doc membership from the stable md5 fine
    bucket, keep fraction (n_min/n_g)^0.7 rounded before the
    threshold."""
    from warcsum_spark.operators.mixing import temperature_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(docs, group_col="lang", alpha=0.3)


def _oracle_temperature_mix() -> str:
    from warcsum_spark.operators.mixing import fine_bucket_sql

    b = fine_bucket_sql("doc_id", seed=42)
    return f"""
WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), f AS (
  SELECT lang,
         least(round(pow((SELECT min(n) FROM c) / CAST(n AS DOUBLE), 0.7), 6),
               1.0) AS frac
  FROM c
)
SELECT d.doc_id, d.lang
FROM documents d JOIN f USING (lang)
WHERE {b} / 65536.0 < f.frac
"""


def q_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T73 (operators/domain_gate.py): domain-level quality gating —
    per-doc verdict n_chars >= 300, domains condemned below a 0.45 pass
    fraction (sf0.01 produces both verdicts), 25-doc domains so the
    small-domain default path is pinned in pytest instead."""
    from warcsum_spark.operators.domain_gate import domain_quality_gate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = domain_quality_gate(
        docs,
        pass_col=(F.col("n_chars") >= 300),
        group_col="source",
        min_docs=5,
        min_pass_frac=0.45,
    )
    return out.select(
        "doc_id", "source", "domain_n_docs", "domain_pass_frac", "domain_kept"
    )


ORACLE_DOMAIN_GATE = """
WITH s AS (
  SELECT source,
         count(*) AS domain_n_docs,
         round(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS domain_pass_frac
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, s.domain_n_docs, s.domain_pass_frac,
       CASE WHEN s.domain_n_docs < 5 THEN TRUE
            ELSE s.domain_pass_frac >= 0.45 END AS domain_kept
FROM documents d JOIN s USING (source)
"""


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T74 (functions/mime.py): magic-byte MIME sniffing + declared-vs-
    sniffed mismatch. Payloads synthesize every magic branch from
    documents (html / png / pdf / gzip / gif / webp / jpeg / plain by
    doc_id mod 8); declared types rotate mod 3 so mismatches occur. The
    UTF-8-validity octet-stream fallback is pytest-pinned (DuckDB has
    no validity probe — the T63 precedent)."""
    from warcsum_spark.functions.mime import mime_mismatch, normalize_declared, sniff_mime

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 8
    body = F.encode("text", "UTF-8")
    payload = (
        F.when(m == 0, F.concat(F.lit(b"<html><body>"), body))
        .when(m == 1, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), body))
        .when(m == 2, F.concat(F.lit(b"%PDF-1.4 "), body))
        .when(m == 3, F.concat(F.lit(b"\x1f\x8b\x08"), body))
        .when(m == 4, F.concat(F.lit(b"GIF89a"), body))
        .when(m == 5, F.concat(F.lit(b"RIFF0000WEBP"), body))
        .when(m == 6, F.concat(F.lit(b"\xff\xd8\xff"), body))
        .otherwise(body)
    )
    declared = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("text/html; charset=utf-8"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image/png"))
        .otherwise(F.lit("application/octet-stream"))
    )
    staged = docs.select(
        "doc_id", payload.alias("payload"), declared.alias("declared")
    ).withColumn("sniffed", sniff_mime(F.col("payload")))
    return staged.select(
        "doc_id",
        "sniffed",
        normalize_declared(F.col("declared")).alias("declared_norm"),
        mime_mismatch(F.col("sniffed"), F.col("declared")).alias("mismatch"),
    )


def _oracle_mime_sniff() -> str:
    """SQL twin on the escaped-BLOB string form (byte→string map is
    prefix-preserving, so prefix tests transfer; synthesized text is
    printable ASCII, so positions line up — T63 precedent). Magic and
    tag tables are GENERATED from the implementation's own lists."""
    from warcsum_spark.functions.mime import HTML_TAGS, MAGIC_PREFIXES

    def esc(bs: bytes) -> str:
        return "".join(
            chr(c) if 32 <= c < 127 else f"\\x{c:02X}" for c in bs
        ).replace("'", "''")

    magic_cases = "\n    ".join(
        f"WHEN starts_with(payload, '{esc(p)}') THEN '{mime}'"
        for mime, p in MAGIC_PREFIXES
    )
    tag_hits = " OR ".join(
        f"starts_with(lead, '{t} ') OR starts_with(lead, '{t}>')"
        for t in HTML_TAGS
    )
    return f"""
WITH staged AS (
  SELECT doc_id,
    CASE doc_id % 8
      WHEN 0 THEN '<html><body>' || text
      WHEN 1 THEN '\\x89PNG\\x0D\\x0A\\x1A\\x0A' || text
      WHEN 2 THEN '%PDF-1.4 ' || text
      WHEN 3 THEN '\\x1F\\x8B\\x08' || text
      WHEN 4 THEN 'GIF89a' || text
      WHEN 5 THEN 'RIFF0000WEBP' || text
      WHEN 6 THEN '\\xFF\\xD8\\xFF' || text
      ELSE text END AS payload,
    CASE doc_id % 3
      WHEN 0 THEN 'text/html; charset=utf-8'
      WHEN 1 THEN 'image/png'
      ELSE 'application/octet-stream' END AS declared
  FROM documents
), sniff AS (
  SELECT doc_id, declared, upper(payload) AS lead,
    CASE
    {magic_cases}
    WHEN substr(payload, 1, 4) = 'RIFF' AND substr(payload, 9, 4) = 'WEBP'
      THEN 'image/webp'
    ELSE NULL END AS magic,
    payload
  FROM staged
), typed AS (
  SELECT doc_id, declared,
    coalesce(
      magic,
      CASE WHEN {tag_hits} THEN 'text/html'
           WHEN starts_with(lead, '<?XML') THEN 'text/xml'
           ELSE 'text/plain' END
    ) AS sniffed
  FROM sniff
)
SELECT doc_id, sniffed,
       trim(lower(split_part(declared, ';', 1))) AS declared_norm,
       NOT (starts_with(sniffed, 'text/')
            AND starts_with(trim(lower(split_part(declared, ';', 1))), 'text/'))
       AND sniffed <> trim(lower(split_part(declared, ';', 1))) AS mismatch
FROM typed
"""


_FETCH_DELAYS = [
    (f"host{n}.test", None if n == 3 else (n % 4) * 0.5 + 0.5)
    for n in range(10)
]  # hosts 10-19 absent → default path; host3 null → coalesce path


def q_fetch_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T75 (frontier/fetchtimes.py): the politeness fetch timeline for a
    scheduled round — per-URL dispatch offsets under each host's
    Crawl-delay plus the per-host finish time (the budget-rebalancing
    signal). Composes the R5 scheduler with the new assignment: zero
    exchanges beyond the schedule's own."""
    from warcsum_spark.frontier.fetchtimes import assign_fetch_times, round_makespan
    from warcsum_spark.frontier.politeness import schedule_per_host

    cand = _event_urls(spark, sf_dir).drop("event_type")
    sched = schedule_per_host(cand, politeness=None, default_budget=3).select(
        "host", "url", "priority", "host_rank"
    )
    delays = _values_df(
        spark, _FETCH_DELAYS, "host string, crawl_delay double"
    )
    assigned = assign_fetch_times(sched, delays, default_delay=1.0)
    finish = round_makespan(assigned)
    return assigned.join(F.broadcast(finish), "host").select(
        "host", "url", "host_rank", "crawl_delay", "fetch_at",
        "n_urls", "finish_at",
    )


def _oracle_fetch_times() -> str:
    vals = ", ".join(
        f"('{h}', {'NULL' if d is None else d})" for h, d in _FETCH_DELAYS
    )
    return f"""
WITH cand AS (
  SELECT 'http://host' || CAST(user_id % 20 AS VARCHAR) || '.test/p/' || CAST(event_id AS VARCHAR) AS url,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.test' AS host,
         value AS priority
  FROM events
), sched AS (
  SELECT host, url, CAST(rnk AS INT) AS host_rank FROM (
    SELECT host, url,
           row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rnk
    FROM cand
  ) WHERE rnk <= 3
), delays(host, crawl_delay) AS (VALUES {vals}),
assigned AS (
  SELECT s.host, s.url, s.host_rank,
         round(coalesce(CAST(d.crawl_delay AS DOUBLE), 1.0), 6) AS crawl_delay,
         round((s.host_rank - 1) * coalesce(CAST(d.crawl_delay AS DOUBLE), 1.0), 6) AS fetch_at
  FROM sched s LEFT JOIN delays d USING (host)
), finish AS (
  SELECT host, count(*) AS n_urls,
         round(max(fetch_at + crawl_delay), 6) AS finish_at
  FROM assigned GROUP BY host
)
SELECT a.host, a.url, a.host_rank, a.crawl_delay, a.fetch_at,
       f.n_urls, f.finish_at
FROM assigned a JOIN finish f USING (host)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T76 (operators/packing.py::pack_sequences): GPT-style sequence
    packing — corpus concatenated in the seed-42 permutation order and
    split into 64-token training windows (docs average ~50 tokens, so
    boundary straddling is the common case, not the corner)."""
    from warcsum_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, seq_len=64, n_shards=8, seed=42)


def _oracle_pack_sequences() -> str:
    from warcsum_spark.functions.sampling import bucket_sql

    return rf"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
  FROM documents
), keyed AS (
  SELECT doc_id,
         md5('42:' || CAST(doc_id AS VARCHAR)) AS k,
         ({bucket_sql("doc_id", 42)}) % 8 AS shard_id,
         CASE WHEN t = '' THEN 0
              ELSE len(string_split(t, ' ')) END AS n_tokens
  FROM norm
), pos AS (
  SELECT doc_id, shard_id, n_tokens,
         CAST(row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id) AS INT) AS pos
  FROM keyed
), within AS (
  SELECT *, sum(n_tokens) OVER (
           PARTITION BY shard_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start_in_shard
  FROM pos
), offs AS (
  SELECT shard_id, coalesce(sum(tok) OVER (
           ORDER BY shard_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS off
  FROM (SELECT shard_id, sum(n_tokens) AS tok FROM within GROUP BY shard_id)
)
SELECT w.doc_id, w.shard_id, w.pos,
       CAST(w.n_tokens AS BIGINT) AS n_tokens,
       CAST(o.off + w.start_in_shard AS BIGINT) AS tok_start,
       (o.off + w.start_in_shard) // 64 AS seq_id_start,
       (o.off + w.start_in_shard + greatest(w.n_tokens, 1) - 1) // 64 AS seq_id_end,
       CAST((o.off + w.start_in_shard) % 64 AS BIGINT) AS offset_in_seq
FROM within w JOIN offs o USING (shard_id)
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T78 (operators/ccnet.py): CCNet-style per-language quality
    terciles — head/middle/tail by rank within each language. The
    gate scores on ``n_chars`` (deterministic, schema-native); the
    production input is the T39 ``lm_perplexity`` score, composed in
    tests/test_ccnet.py."""
    from warcsum_spark.operators.ccnet import rank_buckets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return rank_buckets(docs, "n_chars", ("lang",)).select(
        "doc_id", "lang", "bucket"
    )


ORACLE_CCNET_BUCKETS = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang,
       CASE CAST(floor((3.0 * (rn - 1)) / CAST(n AS DOUBLE)) AS INT)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T77 (operators/splits.py): leakage-safe cluster-aware split —
    every member of a duplicate cluster gets the split of its cluster
    key, so no cluster straddles train/val/test. Pair evidence here is
    a synthesized chain graph (doc_id↔doc_id+1 for doc_id%10<3):
    components have diameter 3, so the oracle checks true multi-hop
    label propagation, not just clique collapse."""
    from warcsum_spark.operators.splits import cluster_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    pairs = docs.where(d % 10 < 3).select(
        d.alias("doc_a"), (d + 1).alias("doc_b")
    )
    return cluster_split(docs, pairs).select("doc_id", "split_key", "split")


def _oracle_cluster_split() -> str:
    from warcsum_spark.functions.sampling import bucket_sql, split_bounds

    # chain (i, i+1) for i%10 in {0,1,2} ⇒ component of n is n-(n%10)
    # when n%10<=3, else n itself — closed form, no recursion needed
    b = bucket_sql("split_key")
    branches = ""
    bounds = split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    for name, _lo, hi in bounds[:-1]:
        branches += f"WHEN {b} < {hi} THEN '{name}' "
    return f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 <= 3 THEN doc_id - (doc_id % 10)
              ELSE doc_id END AS split_key
  FROM documents
)
SELECT doc_id, split_key,
       CASE {branches}ELSE '{bounds[-1][0]}' END AS split
FROM g
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the warcsum dedup semantics (ext/copy_no/refersto) over
    the sf0.001 documents table."""
    return q_doc_dedup_extended(spark, SF0001)


def q_rep_optout_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T80 (functions/reptags.py): REP page-level opt-out gating. The
    synthetic documents carry no markup, so the prep wraps each in a
    deterministic HTML shell whose doc_id residues inject the directive
    surface the parser must handle: name-first and content-first meta
    attribute order, unquoted/uppercase attribute values, the ``none``
    shorthand, and X-Robots-Tag headers that are unscoped, scoped to a
    FOREIGN agent (must be ignored), and scoped to ours."""
    from warcsum_spark.functions.reptags import gate_optouts

    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head><meta charset="utf-8">'),
        F.when(
            d % 7 == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0, F.lit('<meta content="noai" name=ROBOTS >')
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0, F.lit("<META NAME='robots' CONTENT='none'>")
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.substring("text", 1, 40),
        F.lit("</body></html>"),
    )
    hdr = (
        F.when(d % 13 == 0, F.lit("noarchive, nosnippet"))
        .when(d % 17 == 0, F.lit("otherbot: noindex"))
        .when(d % 19 == 0, F.lit("warcsum: noai"))
    )
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", html.alias("html"), hdr.alias("x_robots_tag")
    )
    return gate_optouts(pages, agent="warcsum")


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T81 (operators/line_dedup.py): in-document duplicate-line
    removal. Prep gives the single-line synthetic docs web-page line
    structure (newline every 8 words) and deterministic self-repetition:
    a SHARE THIS line at both ends (the second must drop) and, for
    doc_id % 3 == 0, the whole wrapped body repeated (every line of the
    second copy must drop)."""
    from warcsum_spark.operators.line_dedup import dedup_lines

    wrapped = F.regexp_replace("text", r"((?:\S+ ){8})", "$1\n")
    text = F.concat(
        F.lit("SHARE THIS\n"),
        wrapped,
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), wrapped)
        ).otherwise(F.lit("")),
        F.lit("\nSHARE THIS"),
    )
    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id", "source", text.alias("text")
    )
    return dedup_lines(docs, carry_cols=("source",))


def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T82 (functions/c4.py): C4-style line-level cleaning + page
    flags. Prep gives the single-line synthetic docs line structure
    (newline every 8 words, each such line closed with a terminal '.')
    and injects deterministic violations: a 2-word line (fails the
    3-word rule), a javascript line (fails the javascript rule despite
    terminal punct), and doc_id-residue pages carrying lorem ipsum, a
    curly brace, and a blocklisted word."""
    from warcsum_spark.functions.c4 import c4_clean

    d = F.col("doc_id")
    wrapped = F.regexp_replace("text", r"((?:\S+ ){8})", "$1.\n")
    text = F.concat(
        wrapped,
        F.lit("\nToo short\nClick here for javascript menu."),
        F.when(
            d % 9 == 0, F.lit("\nLorem ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(d % 8 == 0, F.lit("\nif (x) { return 1; }")).otherwise(
            F.lit("")
        ),
        F.when(
            d % 23 == 0, F.lit("\nthis page mentions obscenityone today.")
        ).otherwise(F.lit("")),
    )
    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id", "lang", text.alias("text")
    )
    return c4_clean(docs, carry_cols=("lang",))


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T83 (operators/collocations.py): top-100 adjacent word pairs by
    PMI with support >= 5 over the documents table; the DuckDB oracle
    recomputes pair/unigram/total counts from the same tokenization and
    the identically-associated PMI arithmetic."""
    from warcsum_spark.operators.collocations import pmi_collocations

    docs = _tp(spark, sf_dir, "documents").select("text")
    return pmi_collocations(docs, k=100, min_count=5)


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T84 (operators/psample.py): deterministic fixed-quota weighted
    sample — top-40-by-priority documents per language, weight =
    1 + n_chars, with the Duffield-Lund-Thorup unbiased est_weight.
    Priorities are bit-identical cross-engine (md5-derived exact
    uniform, one IEEE division); the DuckDB oracle replays the same
    math via the generated hex-digit expression. Output doubles are
    rounded to 6 decimals in both engines AFTER selection."""
    from warcsum_spark.operators.psample import priority_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.lit(1) + F.col("n_chars")).alias("w")
    )
    out = priority_sample(
        docs, k=40, weight_col="w", stratum_col="lang", id_col="doc_id", seed=42
    )
    return out.select(
        "stratum",
        "id",
        "weight",
        F.round("priority", 6).alias("priority"),
        F.round("est_weight", 6).alias("est_weight"),
    )


def _oracle_priority_sample() -> str:
    from warcsum_spark.operators.psample import priority_sample_sql

    return priority_sample_sql(
        "src AS (SELECT lang AS stratum, doc_id AS id, "
        "CAST(1 + n_chars AS DOUBLE) AS weight FROM documents)",
        k=40,
        seed=42,
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T85 (operators/kcore.py): 4-core of a deterministic three-layer
    graph — a 101-node chain (degree <= 2: peels round 1), ten bridge
    nodes tying the chain to a 15-node clique (degree 4-5: survive
    round 1, starve once the chain is gone, peel round 2), and the
    clique itself (degree 14: the fixpoint). Exercises a genuine
    multi-round cascade, not a single degree cut; the DuckDB twin
    unrolls 24 peel rounds (>= the depth-3 cascade; idempotent past
    stability)."""
    from warcsum_spark.operators.kcore import k_core

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    chain = ev.select((e % 100).alias("src"), (e % 100 + 1).alias("dst"))
    clique = ev.select(
        (F.lit(200) + e % 15).alias("src"),
        (F.lit(200) + (e / 15).cast("long") % 15).alias("dst"),
    )
    bridges = ev.filter(e % 10 == 0).select(
        (e % 100).alias("src"), (F.lit(200) + e % 15).alias("dst")
    )
    return k_core(chain.unionByName(clique).unionByName(bridges), k=4)


def _oracle_k_core() -> str:
    from warcsum_spark.operators.kcore import k_core_sql

    return k_core_sql(
        "src AS ("
        "SELECT event_id % 100 AS src, event_id % 100 + 1 AS dst FROM events "
        "UNION ALL "
        "SELECT 200 + event_id % 15, 200 + (event_id // 15) % 15 FROM events "
        "UNION ALL "
        "SELECT event_id % 100, 200 + event_id % 15 FROM events "
        "WHERE event_id % 10 = 0)",
        k=4,
        rounds=24,
    )


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T86 (operators/hyperball.py): harmonic centrality of a
    deterministic link graph — a 61-node chain with skip links, a
    fan-in hub (500) and its fan-out leaves — computed on the REVERSED
    graph (centrality counts nodes that can reach you; Boldi & Vigna
    run HyperBall on the transpose for the same reason). Exact tier
    (the oracle/validation path): all-balls BFS truncated at 8 hops,
    harmonic emitted as an exact BIGINT numerator over lcm(1..8)=840
    and ONE IEEE division — bit-identical cross-engine. The HyperBall
    HLL tier is the 100 TB path, pytest-gated against this tier."""
    from warcsum_spark.operators.hyperball import harmonic_exact

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    chain = ev.select((e % 60).alias("src"), (e % 60 + 1).alias("dst"))
    skips = ev.filter(e % 5 == 0).select(
        (e % 60).alias("src"), (e % 60 + 7).alias("dst")
    )
    fan_in = ev.select((e % 37).alias("src"), F.lit(500).alias("dst"))
    fan_out = ev.select(
        F.lit(500).alias("src"), (F.lit(600) + e % 9).alias("dst")
    )
    links = (
        chain.unionByName(skips).unionByName(fan_in).unionByName(fan_out)
    )
    reversed_links = links.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return harmonic_exact(reversed_links, max_t=8)


def _oracle_harmonic() -> str:
    from warcsum_spark.operators.hyperball import harmonic_sql

    return harmonic_sql(
        "src AS ("
        "SELECT dst AS src, src AS dst FROM ("
        "SELECT event_id % 60 AS src, event_id % 60 + 1 AS dst FROM events "
        "UNION ALL SELECT event_id % 60, event_id % 60 + 7 FROM events "
        "WHERE event_id % 5 = 0 "
        "UNION ALL SELECT event_id % 37, 500 FROM events "
        "UNION ALL SELECT 500, 600 + event_id % 9 FROM events))",
        max_t=8,
    )


def q_knlm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T88 (operators/knlm.py): interpolated Kneser-Ney bigram LM
    trained on the documents table (fixed discount 0.75) — the model
    the CCNet recipe trains before perplexity-bucketing. Integer count
    columns are exact; prob is the pinned single-expression float
    (bit-identical cross-engine, rounded to 6 after)."""
    from warcsum_spark.operators.knlm import kn_bigram_lm

    return kn_bigram_lm(_tp(spark, sf_dir, "documents"))


def _oracle_knlm() -> str:
    from warcsum_spark.functions.quality import WS_CLASS
    from warcsum_spark.operators.knlm import kn_bigram_sql

    return kn_bigram_sql(
        "src AS (SELECT text FROM documents)", WS_CLASS
    )


# T87: a fixed trained merge table over the synthetic corpus vocabulary —
# well-formed by construction (every side is a single symbol or the output
# of an earlier merge), the invariant that makes the lowest-rank-first
# encoder equal to rank-order replay (operators/bpe.py::encode_corpus)
_BPE_ENC_MERGES = [
    ("r", "o"), ("ro", "w</w>"), ("h", "a"), ("s", "h</w>"),
    ("ha", "sh</w>"), ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"),
    ("i", "n</w>"), ("o", "in</w>"), ("j", "oin</w>"), ("t", "a"),
    ("ta", "b"), ("l", "e</w>"), ("tab", "le</w>"), ("e", "r"),
]


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T87 (operators/bpe.py::encode_corpus): tokenize the documents
    table with a fixed trained BPE merge table — per doc word count,
    token count, and distinct-subword count. Distinct word types are
    encoded once by the Arrow kernel (Heaps'-law small) and hash-joined
    back to the word stream; the DuckDB twin replays the same merges in
    rank order via generated greedy-pass SQL (bpe_encode_sql)."""
    from warcsum_spark.operators.bpe import encode_corpus

    return encode_corpus(
        _tp(spark, sf_dir, "documents"), _BPE_ENC_MERGES
    )


def _oracle_bpe_encode() -> str:
    from warcsum_spark.operators.bpe import bpe_encode_sql

    return bpe_encode_sql(
        "src AS (SELECT doc_id, text FROM documents)", _BPE_ENC_MERGES
    )


def q_readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T89 (functions/readability.py): Flesch Reading Ease,
    Flesch–Kincaid grade, and Gunning fog per document — map-only
    higher-order expressions (zero exchanges, zero Python), syllables
    via the pinned vowel-run + silent-e rule, scores as pinned
    single-association float expressions rounded to 6."""
    from warcsum_spark.functions.readability import readability

    return readability(
        _tp(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _oracle_readability() -> str:
    from warcsum_spark.functions.readability import readability_sql

    return readability_sql()


def q_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T92 (operators/postings.py): Elias γ/δ + vbyte gap-code bit
    accounting over the T30 inverted index (same prep as
    q_inverted_index: rare xtok markers carry real posting lists, the
    hot natural vocabulary exercises the NULL-cost path). Entirely
    row-local exact integer arithmetic; the one double is the pinned
    γ/raw ratio."""
    from warcsum_spark.operators.inverted_index import build_inverted_index
    from warcsum_spark.operators.postings import postings_compression

    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text", F.lit(" xtok"), (F.col("doc_id") % 97).cast("string")
        ).alias("text"),
    )
    return postings_compression(build_inverted_index(docs, max_postings=30))


def _oracle_postings() -> str:
    from warcsum_spark.operators.postings import postings_compression_sql

    index_cte = r"""ix AS (
  WITH docs AS (
    SELECT doc_id, text || ' xtok' || CAST(doc_id % 97 AS VARCHAR) AS text
    FROM documents
  ), nrm AS (
    SELECT doc_id,
           trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
    FROM docs
  ), toks AS (
    SELECT doc_id, unnest(string_split(t, ' ')) AS term
    FROM nrm WHERE t <> ''
  ), stats AS (
    SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
    FROM toks GROUP BY term
  ), posts AS (
    SELECT term, list(DISTINCT doc_id ORDER BY doc_id) AS postings
    FROM toks GROUP BY term
  )
  SELECT s.term, s.df, s.cf,
         CASE WHEN s.df <= 30 THEN p.postings END AS postings
  FROM stats s JOIN posts p USING (term)
)"""
    return postings_compression_sql(index_cte)


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T102 (operators/drift_cat.py): chi-square homogeneity between
    the corpus language mix and a synthetic next-crawl snapshot in
    which every doc_id % 5 == 0 page re-identified as a NEW language
    'xx' — the absent-on-one-side join path and the per-category
    attribution both run."""
    from warcsum_spark.operators.drift_cat import categorical_drift

    docs = _t(spark, sf_dir, "documents")
    snap_a = docs.select("lang")
    snap_b = docs.select(
        F.when(F.col("doc_id") % 5 == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang")
    )
    return categorical_drift(snap_a, snap_b)


def _oracle_categorical_drift() -> str:
    from warcsum_spark.operators.drift_cat import categorical_drift_sql

    return categorical_drift_sql(
        "SELECT lang FROM documents",
        "SELECT CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang"
        " FROM documents",
    )


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T101 (operators/bowtie.py): bow-tie decomposition of a graph
    with a known factorization — a 10-node core cycle, a 10-node IN
    chain feeding it, a 10-node OUT chain leaving it, and a
    disconnected 2-cycle (OTHER). Pivot pinned to core node 100;
    max_hops=17 = the graph's eccentricity from the pivot (15) + 2
    margin — BFS rounds are the operator's cost axis, so the budget is
    sized to the graph, not defaulted."""
    from warcsum_spark.operators.bowtie import bowtie_summary

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    m = e % 10
    core = ev.select((m + 100).alias("src"), ((m + 1) % 10 + 100).alias("dst"))
    in_chain = ev.filter(m <= 8).select(m.alias("src"), (m + 1).alias("dst"))
    in_link = ev.select(F.lit(9).alias("src"), F.lit(100).alias("dst"))
    out_link = ev.select(F.lit(105).alias("src"), F.lit(200).alias("dst"))
    out_chain = ev.filter(m <= 8).select(
        (m + 200).alias("src"), (m + 201).alias("dst")
    )
    island = ev.select(
        (e % 2 + 500).alias("src"), ((e + 1) % 2 + 500).alias("dst")
    )
    edges = (
        core.unionByName(in_chain)
        .unionByName(in_link)
        .unionByName(out_link)
        .unionByName(out_chain)
        .unionByName(island)
    )
    return bowtie_summary(edges, max_hops=17, pivot=100)


def _oracle_bowtie() -> str:
    from warcsum_spark.operators.bowtie import bowtie_sql

    return bowtie_sql(
        "SELECT event_id % 10 + 100 AS src,"
        " (event_id % 10 + 1) % 10 + 100 AS dst FROM events"
        " UNION ALL SELECT event_id % 10, event_id % 10 + 1 FROM events"
        " WHERE event_id % 10 <= 8"
        " UNION ALL SELECT 9, 100 FROM events"
        " UNION ALL SELECT 105, 200 FROM events"
        " UNION ALL SELECT event_id % 10 + 200, event_id % 10 + 201"
        " FROM events WHERE event_id % 10 <= 8"
        " UNION ALL SELECT event_id % 2 + 500, (event_id + 1) % 2 + 500"
        " FROM events",
        max_hops=17,
        pivot=100,
    )


def q_opic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T100 (operators/opic.py): synchronous OPIC cash/history rounds
    over the same link graph as `pagerank_links` (nodes 40-49 dangling,
    so the virtual-page uniform redistribution runs every round) — the
    crawl-native importance the frontier would order fetches by."""
    from warcsum_spark.operators.opic import opic

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    return opic(edges, iters=4)


def _oracle_opic() -> str:
    from warcsum_spark.operators.opic import opic_oracle_sql

    return opic_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        iters=4,
    )


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T99 (operators/cocitation.py): co-citation related-pages over a
    deterministic referrer graph — block referrers co-cite their
    block's targets (real pairs), one directory hub links everything
    (must be dropped by the fan-out cap), multi-edges collapse."""
    from warcsum_spark.operators.cocitation import cocitation

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    # referrer r = e % 40 links to targets 1000 + (r % 8)*3 + {0,1,2}
    block = (e % 40) % 8 * 3
    links = (
        ev.select((e % 40).alias("src"), (F.lit(1000) + block + e % 3).alias("dst"))
        .unionByName(
            # the directory hub: src 999 links to EVERY target
            ev.select(F.lit(999).alias("src"), (F.lit(1000) + e % 24).alias("dst"))
        )
    )
    return cocitation(links, min_common=2, max_fanout=10)


def _oracle_cocitation() -> str:
    from warcsum_spark.operators.cocitation import cocitation_sql

    return cocitation_sql(
        "SELECT event_id % 40 AS src,"
        " 1000 + (event_id % 40) % 8 * 3 + event_id % 3 AS dst FROM events"
        " UNION ALL SELECT 999, 1000 + event_id % 24 FROM events",
        min_common=2,
        max_fanout=10,
    )


def q_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T98 (operators/rproj.py): Achlioptas sparse random projection
    64 → 16 dims over the embeddings table with the per-vector JL
    distortion audit — the md5-derived matrix is inlined into both
    engines and every dot/norm is a sequential fold, so the twin is
    bit-exact by construction."""
    from warcsum_spark.operators.rproj import rp_report

    return rp_report(
        _t(spark, sf_dir, "embeddings"), dim_in=64, dim_out=16
    )


def _oracle_rproj() -> str:
    from warcsum_spark.operators.rproj import rp_report_sql

    return rp_report_sql(
        "SELECT vec_id, embedding FROM embeddings", dim_in=64, dim_out=16
    )


def q_host_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T97 (operators/concentration.py): HHI + Gini of documents per
    host over a deliberately skewed host assignment (one mega-host
    with ~half the corpus, one mid host, a small-host tail) so the
    indices sit away from both 0 and 1 and every sum path runs."""
    from warcsum_spark.operators.concentration import host_concentration

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        F.when(d % 2 == 0, F.lit("mega.test"))
        .when(d % 3 == 0, F.lit("mid.test"))
        .otherwise(F.concat(F.lit("s"), (d % 25).cast("string"), F.lit(".test")))
        .alias("host")
    )
    return host_concentration(docs)


def _oracle_host_concentration() -> str:
    from warcsum_spark.operators.concentration import host_concentration_sql

    return host_concentration_sql(
        "SELECT CASE WHEN doc_id % 2 = 0 THEN 'mega.test'"
        " WHEN doc_id % 3 = 0 THEN 'mid.test'"
        " ELSE 's' || CAST(doc_id % 25 AS VARCHAR) || '.test' END AS host"
        " FROM documents"
    )


def q_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T96 (operators/recrawl.py::change_rate_mle): the Cho &
    Garcia-Molina bias-corrected Poisson change-rate estimator over
    the same synthesized fetch history as q_recrawl_schedule — the
    statistical upgrade of T35's naive span/changes interval."""
    from warcsum_spark.operators.recrawl import change_rate_mle

    ev = _t(spark, sf_dir, "events")
    history = ev.select(
        F.concat(
            F.lit("http://s"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test/p/"),
            (F.col("user_id") % 97).cast("string"),
        ).alias("url"),
        F.col("ts"),
        F.md5(
            ((F.floor("value").cast("int")) % 4).cast("string")
        ).alias("digest"),
        F.col("event_id"),
    )
    return change_rate_mle(history, tiebreak_col="event_id")


def _oracle_change_rate() -> str:
    from warcsum_spark.operators.recrawl import change_rate_sql

    return change_rate_sql(
        """hist AS (
  SELECT 'http://s' || CAST(user_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(user_id % 97 AS VARCHAR) AS url,
         ts,
         md5(CAST(CAST(floor(value) AS INT) % 4 AS VARCHAR)) AS digest,
         event_id
  FROM events
)"""
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T95 (operators/assortativity.py): the four directed degree
    assortativity coefficients of a deterministic chain+hub link graph
    (hub fan-in/fan-out makes it disassortative like the real web;
    multi-edges from repeated event rows exercise the pinned
    multiplicity semantics). Exact HUGEINT/DECIMAL sums; the only IEEE
    ops are the pinned final chain."""
    from warcsum_spark.operators.assortativity import degree_assortativity

    ev = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 50
    edges = (
        ev.select(h.alias("src"), ((h + 1) % 50).alias("dst"))
        .unionByName(
            ev.select(
                F.lit(100).alias("src"), (h % 9 + 200).alias("dst")
            )
        )
        .unionByName(
            ev.select((h % 37 + 300).alias("src"), F.lit(100).alias("dst"))
        )
    )
    return degree_assortativity(edges)


def _oracle_assortativity() -> str:
    from warcsum_spark.operators.assortativity import assortativity_sql

    return assortativity_sql(
        "SELECT event_id % 50 AS src, (event_id % 50 + 1) % 50 AS dst"
        " FROM events"
        " UNION ALL SELECT 100, event_id % 50 % 9 + 200 FROM events"
        " UNION ALL SELECT event_id % 50 % 37 + 300, 100 FROM events"
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T94 (operators/kmv.py): KMV-sketch overlap between the corpus
    and a synthetic recrawl of itself in which every doc_id % 3 == 0
    page changed — distinct counts, union, Jaccard, and containment
    from two 64-row sketches, never a corpus join. Estimator paths
    exercised on both sides (both corpora exceed k distinct texts)."""
    from warcsum_spark.operators.kmv import kmv_overlap, kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    crawl_a = docs.select("text")
    crawl_b = docs.select(
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" changed"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    return kmv_overlap(
        kmv_sketch(crawl_a, k=64), kmv_sketch(crawl_b, k=64), k=64
    )


def _oracle_kmv() -> str:
    from warcsum_spark.operators.kmv import kmv_overlap_sql

    return kmv_overlap_sql(
        "SELECT text FROM documents",
        "SELECT CASE WHEN doc_id % 3 = 0 THEN text || ' changed'"
        " ELSE text END AS text FROM documents",
        k=64,
    )


def q_docid_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T93 (operators/docid_remap.py): URL-sort doc-ID reassignment +
    per-term γ/δ savings. URLs are zero-padded so lexicographic order
    is (host, doc_id) numeric order; the per-host htok markers become
    gap-1 runs under the new ids (real savings), the xtok markers stay
    host-uncorrelated, and the natural hot vocabulary exercises the
    NULL-capped path on both sides."""
    from warcsum_spark.operators.docid_remap import reassignment_report

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://s"),
            F.lpad((d % 20).cast("string"), 2, "0"),
            F.lit(".test/p"),
            F.lpad(d.cast("string"), 6, "0"),
        ).alias("url"),
        F.concat(
            "text",
            F.lit(" htok"),
            (d % 20).cast("string"),
            F.lit(" xtok"),
            (d % 97).cast("string"),
        ).alias("text"),
    )
    return reassignment_report(docs, max_postings=30)


def _oracle_docid_remap() -> str:
    from warcsum_spark.operators.docid_remap import reassignment_sql

    docs_cte = """docs AS (
  SELECT doc_id,
    'http://s' || lpad(CAST(doc_id % 20 AS VARCHAR), 2, '0')
      || '.test/p' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url,
    text || ' htok' || CAST(doc_id % 20 AS VARCHAR)
         || ' xtok' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents
)"""
    return reassignment_sql(docs_cte, cap=30)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T91 (operators/fusion.py): reciprocal-rank fusion of the BM25
    lexical run (T69, the exact q_bm25_search config incl. the salted
    hot-query path) with a dense cosine run (T2 brute force, query
    vectors 1–4 over the full embeddings table — vec_id shares the
    doc_id domain). Scores are the pinned two-term 1/(60+rank) chain,
    fused rank deterministic on the rounded score."""
    from warcsum_spark.operators.bm25 import bm25_search
    from warcsum_spark.operators.fusion import rrf_fuse
    from warcsum_spark.operators.similarity import brute_force_topk

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    lex = bm25_search(
        docs,
        _values_df(spark, _BM25_QUERIES, "query_id long, term string"),
        k=5,
        salt_buckets=8,
    )
    emb = _tp(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = brute_force_topk(emb, qvecs, k=10)
    return rrf_fuse([lex, dense], k=10)


def _oracle_rrf() -> str:
    from warcsum_spark.operators.fusion import rrf_sql

    dense = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS score
  FROM embeddings q JOIN embeddings c ON q.vec_id BETWEEN 1 AND 4
), rankd AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
FROM rankd WHERE rank <= 10
"""
    return rrf_sql([(_oracle_bm25(), "doc_id"), (dense, "vec_id")], k=10)


def q_corpus_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T90 (operators/zipf.py): Zipf rank-frequency slope + Heaps'
    vocabulary-growth fit over the documents table — one diagnostic
    row; regression sums are 1e8-scaled exact integers in
    DECIMAL(38,0)/HUGEINT so the fits are bit-identical cross-engine
    and partitioning-invariant."""
    from warcsum_spark.operators.zipf import corpus_laws

    return corpus_laws(_tp(spark, sf_dir, "documents"))


def _oracle_corpus_laws() -> str:
    from warcsum_spark.operators.zipf import corpus_laws_sql

    return corpus_laws_sql()


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T103 (operators/mirrors.py): content-based mirror-host
    detection over a deterministic host/path/fingerprint layout —
    hosts h0–h6 serve identical content at identical paths (perfect
    mirrors), h7 mutates every third page (partial mirror), and a
    boilerplate footer shared by 30 synthetic hosts must vanish under
    the ubiquity cap (and leave the size base)."""
    from warcsum_spark.operators.mirrors import mirror_hosts

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    p = F.expr("doc_id DIV 8")
    mut = F.when(
        (d % 8 == 7) & (p % 3 == 0), F.lit("mut")
    ).otherwise(F.lit(""))
    pages = docs.select(
        F.concat(F.lit("h"), (d % 8).cast("string")).alias("host"),
        F.concat(F.lit("/"), p.cast("string")).alias("path"),
        F.md5(F.concat(p.cast("string"), mut)).alias("fp"),
    )
    boiler = docs.select(
        F.concat(F.lit("b"), (d % 30).cast("string")).alias("host"),
        F.lit("/footer").alias("path"),
        F.md5(F.lit("boiler")).alias("fp"),
    )
    return mirror_hosts(
        pages.unionByName(boiler), min_shared=2, max_hosts=10
    )


def _oracle_mirror_hosts() -> str:
    from warcsum_spark.operators.mirrors import mirror_hosts_sql

    return mirror_hosts_sql(
        "SELECT 'h' || CAST(doc_id % 8 AS VARCHAR) AS host,"
        " '/' || CAST(doc_id // 8 AS VARCHAR) AS path,"
        " md5(CAST(doc_id // 8 AS VARCHAR)"
        "     || CASE WHEN doc_id % 8 = 7 AND (doc_id // 8) % 3 = 0"
        "        THEN 'mut' ELSE '' END) AS fp"
        " FROM documents"
        " UNION ALL"
        " SELECT 'b' || CAST(doc_id % 30 AS VARCHAR), '/footer',"
        " md5('boiler') FROM documents",
        min_shared=2,
        max_hosts=10,
    )


def q_unimax_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T104 (operators/unimax.py): UniMax epoch-capped waterfilling of
    a training budget over the corpus's real language mix — the one
    corpus-grain exchange is the language count; the allocation
    windows run on the dimension-sized language table."""
    from warcsum_spark.operators.unimax import (
        language_sizes,
        unimax_budgets,
    )

    sizes = language_sizes(_t(spark, sf_dir, "documents"))
    return unimax_budgets(sizes, budget=600, max_epochs=2)


def _oracle_unimax() -> str:
    from warcsum_spark.operators.unimax import unimax_sql

    return unimax_sql(
        "SELECT lang, count(*) AS size FROM documents GROUP BY lang",
        budget=600,
        max_epochs=2,
    )


def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T105 (operators/hyperball.py): interpolated 90%-effective
    diameter of the harmonic driver graph (chain + skip links + fan-in
    hub + fan-out leaves, forward direction) at the max_t=8 horizon —
    the exact-integer threshold and one pinned division, vs the
    generated unrolled-BFS DuckDB twin."""
    from warcsum_spark.operators.hyperball import effective_diameter

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    chain = ev.select((e % 60).alias("src"), (e % 60 + 1).alias("dst"))
    skips = ev.filter(e % 5 == 0).select(
        (e % 60).alias("src"), (e % 60 + 7).alias("dst")
    )
    fan_in = ev.select((e % 37).alias("src"), F.lit(500).alias("dst"))
    fan_out = ev.select(
        F.lit(500).alias("src"), (F.lit(600) + e % 9).alias("dst")
    )
    links = (
        chain.unionByName(skips).unionByName(fan_in).unionByName(fan_out)
    )
    return effective_diameter(links, max_t=8)


def _oracle_effective_diameter() -> str:
    from warcsum_spark.operators.hyperball import effective_diameter_sql

    return effective_diameter_sql(
        "src AS ("
        "SELECT event_id % 60 AS src, event_id % 60 + 1 AS dst FROM events "
        "UNION ALL SELECT event_id % 60, event_id % 60 + 7 FROM events "
        "WHERE event_id % 5 = 0 "
        "UNION ALL SELECT event_id % 37, 500 FROM events "
        "UNION ALL SELECT 500, 600 + event_id % 9 FROM events)",
        max_t=8,
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T106 (operators/pq.py): product-quantization ADC top-10 over
    the embeddings table (corpus vec_id >= 5, queries < 5 — the T2
    split). Codebooks trained on the deterministic bounded sample
    (lowest ids, the IVF discipline); the oracle regenerates them
    bit-identically with the shared numpy trainer and inlines the
    sequential-fold luts, so the ADC chain agrees bit-for-bit."""
    from warcsum_spark.operators.pq import ann_pq_topk, train_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = train_pq_codebooks(corpus, m=4, k=16)
    return ann_pq_topk(corpus, queries_df, cb, k_top=10)


def _oracle_ann_pq(
    sf_dir: str,
    m: int = 4,
    k: int = 16,
    train_size: int = 4096,
    k_top: int = 10,
) -> str | None:
    """DuckDB replica of ann_pq: codebooks regenerated with the shared
    pure-numpy trainer on the same deterministic sample; query luts
    computed by the same sequential fold and inlined as constants."""
    import duckdb
    import numpy as np

    from warcsum_spark.operators.pq import _kmeans_l2, ann_pq_sql, pq_lut

    pq_path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(pq_path):
        return None
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{pq_path}') WHERE vec_id >= 5 "
        f"ORDER BY vec_id LIMIT {train_size}"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dsub = X.shape[1] // m
    cb = np.stack(
        [
            _kmeans_l2(X[:, j * dsub : (j + 1) * dsub], k, seed=42 + j)
            for j in range(m)
        ]
    )
    qrows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{pq_path}') "
        f"WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    luts = {
        int(r[0]): pq_lut(np.asarray(r[1], dtype=np.float64), cb)
        for r in qrows
    }
    return ann_pq_sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
        "WHERE vec_id >= 5",
        cb,
        luts,
        k_top=k_top,
    )


# T61/T107's shared graph — 8 dense groups + sparse bridges; T107's
# modularity row gates the composed LPA→Q chain end to end
_LPA_EDGES_SQL = (
    "SELECT (user_id % 8) * 10 + event_id % 10 AS src, "
    "(user_id % 8) * 10 + CAST(floor(event_id / 10) AS BIGINT) % 10 AS dst "
    "FROM events "
    "UNION ALL SELECT (user_id % 8) * 10, (((user_id % 8) + 1) % 8) * 10 "
    "FROM events WHERE event_id % 97 = 0"
)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T107 (operators/modularity.py): Newman modularity of the T61
    LPA communities over the same clustered graph — the composed
    detect-then-score chain a crawl-QA run executes, gated as one
    hash row (exact-integer sums, ONE pinned division)."""
    from warcsum_spark.operators.lpa import label_propagation
    from warcsum_spark.operators.modularity import modularity

    ev = _t(spark, sf_dir, "events")
    g = F.col("user_id") % 8
    intra = ev.select(
        (g * 10 + F.col("event_id") % 10).alias("src"),
        (g * 10 + (F.col("event_id") / 10).cast("long") % 10).alias("dst"),
    )
    bridges = ev.filter(F.col("event_id") % 97 == 0).select(
        (g * 10).alias("src"),
        (((g + 1) % 8) * 10).alias("dst"),
    )
    edges = intra.unionByName(bridges)
    # the label table feeds FOUR plan branches inside modularity (D_c,
    # both endpoint attaches, n_nodes); unmaterialized each branch
    # re-runs the post-checkpoint LPA rounds. localCheckpoint, not
    # cache: the persisted RDD has a known (tiny) size, so the label
    # attaches plan as broadcast joins, and there is no InMemoryRelation
    # columnar encode on the one-shot build (A/B: 2.3-2.6 -> 1.7-1.8 s)
    labels = label_propagation(edges, iters=5).localCheckpoint(eager=True)
    return modularity(edges, labels)


def _oracle_modularity() -> str:
    from warcsum_spark.operators.lpa import lpa_oracle_sql
    from warcsum_spark.operators.modularity import modularity_sql

    return modularity_sql(
        _LPA_EDGES_SQL,
        lpa_oracle_sql(_LPA_EDGES_SQL, iters=5),
    )


def q_freshness_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T108 (operators/freshness.py): expected freshness/age of the
    corpus under uniform vs proportional revisit at 500 fetches/day,
    with the per-URL Poisson rates estimated by T96's bias-corrected
    MLE over the same synthesized fetch history — the composed
    estimate-then-score chain, gated as one hash row. The hot/static
    URL mix the history synthesizes puts the two policies measurably
    apart (the TODS 2003 Thm 4.1 ordering)."""
    from warcsum_spark.operators.freshness import freshness_policy
    from warcsum_spark.operators.recrawl import change_rate_mle

    ev = _t(spark, sf_dir, "events")
    history = ev.select(
        F.concat(
            F.lit("http://s"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".test/p/"),
            (F.col("user_id") % 97).cast("string"),
        ).alias("url"),
        F.col("ts"),
        F.md5(
            ((F.floor("value").cast("int")) % 4).cast("string")
        ).alias("digest"),
        F.col("event_id"),
    )
    rates = change_rate_mle(history, tiebreak_col="event_id")
    return freshness_policy(rates, budget_per_day=500.0)


def _oracle_freshness() -> str:
    from warcsum_spark.operators.freshness import freshness_policy_sql
    from warcsum_spark.operators.recrawl import change_rate_sql

    rates = change_rate_sql(
        """hist AS (
  SELECT 'http://s' || CAST(user_id % 20 AS VARCHAR) || '.test/p/'
           || CAST(user_id % 97 AS VARCHAR) AS url,
         ts,
         md5(CAST(CAST(floor(value) AS INT) % 4 AS VARCHAR)) AS digest,
         event_id
  FROM events
)"""
    )
    return freshness_policy_sql(rates, budget_per_day=500.0)


def q_wand_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T109 (operators/wand.py): the WAND/MaxScore pruning sidecar —
    per-term BM25 upper bounds (Lucene idf, T69's tokenizer/constants)
    over the documents corpus, terms with df >= 3."""
    from warcsum_spark.operators.wand import wand_upper_bounds

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return wand_upper_bounds(docs, min_df=3)


def _oracle_wand() -> str:
    from warcsum_spark.operators.wand import wand_upper_bounds_sql

    return wand_upper_bounds_sql(
        "SELECT doc_id, text FROM documents", min_df=3
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T110 (operators/bpe.py::tokenizer_fertility): per-language
    tokenizer fertility + bytes/chars per token over the documents
    table, encoded with T87's fixed trained merge table — the
    multilingual tokenizer diagnostic a mixing recipe (T20/T104)
    consumes to convert document budgets into token budgets."""
    from warcsum_spark.operators.bpe import tokenizer_fertility

    return tokenizer_fertility(
        _tp(spark, sf_dir, "documents"), _BPE_ENC_MERGES
    )


def _oracle_tokenizer_fertility() -> str:
    from warcsum_spark.operators.bpe import tokenizer_fertility_sql

    return tokenizer_fertility_sql(
        "src AS (SELECT doc_id, text, lang FROM documents)",
        _BPE_ENC_MERGES,
    )


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T111 (operators/salsa.py): SALSA hubs/authorities by the
    Lempel–Moran closed form over a deterministic three-block link
    graph (blocks are disjoint mod-3 id ranges, so the component
    weighting path runs; in-block fan-in skew exercises the degree
    ratios)."""
    from warcsum_spark.operators.salsa import salsa

    ev = _t(spark, sf_dir, "events")
    block = (F.col("user_id") % 3) * 100
    edges = ev.select(
        (block + F.col("user_id") % 40).alias("src"),
        (block + (F.col("event_id") % 53) % 40).alias("dst"),
    )
    return salsa(edges)


def _oracle_salsa() -> str:
    from warcsum_spark.operators.salsa import salsa_sql

    return salsa_sql(
        "SELECT (user_id % 3) * 100 + user_id % 40 AS src, "
        "(user_id % 3) * 100 + (event_id % 53) % 40 AS dst "
        "FROM events"
    )


def q_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T112 (operators/lm_score.py::moore_lewis): cross-entropy data
    selection — the English slice is the in-domain corpus, the whole
    documents table the general corpus; same vocab/alpha as T39 so
    the in-domain LM IS the T39 model (pinned in pytest)."""
    from warcsum_spark.operators.lm_score import moore_lewis

    return moore_lewis(
        _tp(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        vocab_size=100,
        alpha=0.1,
        threshold=0.0,
    )


def _oracle_moore_lewis() -> str:
    from warcsum_spark.operators.lm_score import moore_lewis_sql

    return moore_lewis_sql(
        r"""SELECT doc_id,
      trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t,
      lang = 'en' AS is_ref
    FROM documents""",
        vocab_size=100,
        alpha=0.1,
        threshold=0.0,
    )


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T113 (operators/katz.py): Katz centrality — attenuated in-walk
    counts as the complementary frontier-priority signal to T32
    (Katz never divides by out-degree, so vote-splitting link farms
    read differently). Same deterministic link graph as
    `pagerank_links`, dangling nodes 40-49 included — they hold the
    β base term with no special branch."""
    from warcsum_spark.operators.katz import katz_centrality

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    kz = katz_centrality(edges, alpha=0.1, beta=1.0, iters=4)
    return kz.select("node", F.round("katz", 8).alias("katz"))


def _oracle_katz() -> str:
    from warcsum_spark.operators.katz import katz_oracle_sql

    return katz_oracle_sql(
        "SELECT user_id % 40 AS src, event_id % 50 AS dst FROM events",
        alpha=0.1,
        beta=1.0,
        iters=4,
    )


def q_qlm_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T114 (operators/qlm.py): Dirichlet query-likelihood retrieval —
    top-5 per query over the same query set as `bm25_search` (query 4
    is the stopword-hot one; query 3's duplicate term exercises the
    c(t,q) multiplicity path via the added (3, 'vector') repeat)."""
    from warcsum_spark.operators.qlm import query_likelihood_search

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    queries_df = _values_df(
        spark, _QLM_QUERIES, "query_id long, term string"
    )
    return query_likelihood_search(
        docs, queries_df, k=5, mu=2000.0, salt_buckets=8
    )


_QLM_QUERIES = _BM25_QUERIES + [(3, "vector")]


def _oracle_qlm() -> str:
    from warcsum_spark.operators.qlm import query_likelihood_sql

    return query_likelihood_sql(
        "SELECT doc_id, text FROM documents", _QLM_QUERIES, k=5, mu=2000.0
    )


def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T115 (operators/bbit.py): b-bit minwise hashing — the 32×
    smaller stored-signature tier of T1's minhash index (b=2 of 64
    bits kept), candidates from full-width LSH bands, verify on the
    masked values with the Li–König collision correction. Same
    near-dup corpus as `minhash_lsh_docs`; the oracle recomputes
    mask + correction over the independent per-row reference."""
    from warcsum_spark.operators.bbit import bbit_minhash_duplicates

    return bbit_minhash_duplicates(
        _docs_with_neardups(spark, sf_dir),
        k=3,
        num_hashes=64,
        bands=16,
        b=2,
        threshold=0.4,
    )


def _oracle_bbit(sf_dir: str) -> str:
    from warcsum_spark.operators.bbit import bbit_oracle_sql
    from warcsum_spark.oracle_refs import materialize_minhash_oracle

    sig_path, band_path = materialize_minhash_oracle(sf_dir)
    return bbit_oracle_sql(
        sig_path, band_path, num_hashes=64, b=2, threshold=0.4
    )


def q_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T118 (operators/editdist.py): exact edit-distance verification
    of T1's LSH candidate pairs — LSH proposes, Levenshtein disposes
    (the Ed-Join candidate-then-verify architecture). Same near-dup
    corpus as `minhash_lsh_docs`; both engines gate to the ASCII
    subset (octet_length = length, a no-op on this corpus) because
    Spark's levenshtein counts codepoints and DuckDB's counts bytes —
    identical exactly there. The oracle recomputes candidates from the
    independent per-row minhash reference and the distance with
    DuckDB's own levenshtein, so banding, estimate, distance, AND the
    normalized-ratio gate are each cross-checked."""
    from warcsum_spark.operators.editdist import edit_verified_duplicates

    docs = _docs_with_neardups(spark, sf_dir).filter(
        F.octet_length("text") == F.length("text")
    )
    return edit_verified_duplicates(
        docs, k=3, num_hashes=64, bands=16, max_ratio=0.6
    )


def _oracle_edit_verified(sf_dir: str) -> str:
    from warcsum_spark.operators.editdist import edit_verified_oracle_sql
    from warcsum_spark.oracle_refs import materialize_minhash_oracle

    sig_path, band_path = materialize_minhash_oracle(sf_dir)
    corpus_sql = """
  SELECT doc_id, text FROM documents WHERE strlen(text) = length(text)
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         text || ' perturbed tail token' AS text
  FROM documents WHERE doc_id < 20 AND strlen(text) = length(text)
"""
    return edit_verified_oracle_sql(
        sig_path, band_path, corpus_sql, num_hashes=64, max_ratio=0.6
    )


def q_url_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T119 (operators/urlspam.py): Fetterly-style URL-shape spam
    signals — population z-scores of per-host (mean length, digit
    share, path depth) over URLs synthesized from events: 47 normal
    hosts serve short template paths, 3 'spam' hosts serve long
    digit-dense deep paths and must be the exactly-flagged outliers.
    The oracle is the generated twin running the identical pinned
    exact-integer arithmetic in DuckDB."""
    from warcsum_spark.operators.urlspam import url_spam_signals

    ev = _tp(spark, sf_dir, "events")
    hid = F.col("user_id") % 50
    spam = hid >= 47
    host = F.when(
        spam, F.concat(F.lit("spam"), hid.cast("string"), F.lit(".test"))
    ).otherwise(F.concat(F.lit("h"), hid.cast("string"), F.lit(".test")))
    url = F.concat(
        F.lit("http://"),
        host,
        F.when(
            spam,
            F.concat(
                F.lit("/"), (F.col("event_id") * 7919).cast("string"),
                F.lit("/"), (F.col("event_id") * 104729).cast("string"),
                F.lit("/x"), (F.col("event_id") % 97).cast("string"),
                F.lit("/y"), (F.col("event_id") % 89).cast("string"),
            ),
        ).otherwise(
            F.concat(F.lit("/p/"), (F.col("event_id") % 100).cast("string"))
        ),
    )
    return url_spam_signals(
        ev.select(host.alias("host"), url.alias("url")), z_thresh=2.0
    )


def _oracle_url_spam() -> str:
    from warcsum_spark.operators.urlspam import url_spam_oracle_sql

    host_sql = (
        "CASE WHEN user_id % 50 >= 47 "
        "THEN 'spam' || CAST(user_id % 50 AS VARCHAR) || '.test' "
        "ELSE 'h' || CAST(user_id % 50 AS VARCHAR) || '.test' END"
    )
    urls_sql = f"""
  SELECT {host_sql} AS host,
         'http://' || ({host_sql})
         || CASE WHEN user_id % 50 >= 47
                 THEN '/' || CAST(event_id * 7919 AS VARCHAR)
                      || '/' || CAST(event_id * 104729 AS VARCHAR)
                      || '/x' || CAST(event_id % 97 AS VARCHAR)
                      || '/y' || CAST(event_id % 89 AS VARCHAR)
                 ELSE '/p/' || CAST(event_id % 100 AS VARCHAR) END AS url
  FROM events
"""
    return url_spam_oracle_sql(urls_sql, z_thresh=2.0)


def q_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T120 (operators/bursts.py): Kleinberg 2-state burst detection
    over per-host event streams (host = user_id mod 20). All-integer
    outputs; the oracle aggregates the INDEPENDENT per-gap reference
    trajectory (oracle_refs.ref_burst_states, materialized to
    parquet) with gaps-and-islands SQL — DP trajectory and run
    summarization cross-checked separately."""
    from warcsum_spark.operators.bursts import kleinberg_bursts

    ev = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("u"), (F.col("user_id") % 20).cast("string")
        ).alias("host"),
        "ts",
    )
    return kleinberg_bursts(ev, s=2.0, gamma=1.0)


def _oracle_bursts(sf_dir: str) -> str:
    from warcsum_spark.operators.bursts import burst_oracle_sql
    from warcsum_spark.oracle_refs import materialize_burst_oracle

    states_path, hosts_path = materialize_burst_oracle(sf_dir, n_hosts=20)
    return burst_oracle_sql(states_path, hosts_path)


def q_imatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T123 (operators/imatch.py): I-Match collection-statistics
    dedup. The base corpus's 31-word vocabulary is all-common (df up
    to 402/500 — every word lands ABOVE the df band), so the query
    layers a deterministic term distribution that exercises every
    pipeline part: per-doc group tokens ga(doc_id mod 13) and
    gb(doc_id mod 17) sit MID-band (df ≈ 29–38, kept), one unique
    zz<doc_id> token sits at the rare end (df = 1, dropped), and the
    base words at the common end (dropped). Signatures therefore
    collapse docs agreeing mod 221 — real multi-doc is_dup groups
    plus singletons, with differences confined to out-of-lexicon
    terms invisible, exactly the paper's claim. Oracle = the
    generated DuckDB twin of the whole pipeline."""
    from warcsum_spark.operators.imatch import imatch_signatures

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ga"), (F.col("doc_id") % 13).cast("string"),
            F.lit(" gb"), (F.col("doc_id") % 17).cast("string"),
            F.lit(" zz"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return imatch_signatures(docs)


def _oracle_imatch() -> str:
    from warcsum_spark.operators.imatch import imatch_oracle_sql

    docs_sql = """
  SELECT doc_id,
         text || ' ga' || CAST(doc_id % 13 AS VARCHAR)
              || ' gb' || CAST(doc_id % 17 AS VARCHAR)
              || ' zz' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
"""
    return imatch_oracle_sql(docs_sql)


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T116 (operators/cdc.py): content-defined chunking (windowed
    Gear + FastCDC two-mask rule) and the chunk-level storage-dedup
    ledger over the near-dup corpus — the perturbed-tail copies share
    every chunk except the tail, so real cross-document savings are
    exercised. The oracle groups the INDEPENDENT byte-at-a-time
    reference's materialized chunks in plain SQL."""
    from warcsum_spark.operators.cdc import cdc_dedup_accounting

    return cdc_dedup_accounting(
        _docs_with_neardups(spark, sf_dir),
        min_size=32,
        normal_size=128,
        max_size=512,
        min_copies=2,
    )


def _oracle_cdc(sf_dir: str) -> str:
    from warcsum_spark.oracle_refs import materialize_cdc_oracle

    path = materialize_cdc_oracle(
        sf_dir, min_size=32, normal_size=128, max_size=512
    )
    return f"""
SELECT chunk_hash,
       max(length) AS chunk_len,
       count(*) AS n_copies,
       (count(*) - 1) * max(length) AS saved_bytes
FROM read_parquet('{path}')
GROUP BY chunk_hash
HAVING count(*) >= 2
"""


def q_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T117 (operators/powerlaw.py): Clauset–Shalizi–Newman power-law
    fit of the in-degree distribution on a deterministic heavy-tailed
    graph (dst = 10000/(event_id%997+1) — a hyperbolic map, so low ids
    soak up fan-in like real hubs do). Scaled-integer ln sums keep the
    MLE engine-exact; KS is evaluated on the distinct-degree
    histogram."""
    from warcsum_spark.operators.powerlaw import indegree_powerlaw

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.floor(F.lit(10000) / (F.col("event_id") % 997 + 1))
        .cast("long")
        .alias("dst"),
    )
    return indegree_powerlaw(edges, xmin=2)


def _oracle_powerlaw() -> str:
    from warcsum_spark.operators.powerlaw import indegree_powerlaw_sql

    return indegree_powerlaw_sql(
        "SELECT user_id AS src, "
        "CAST(floor(10000 / (event_id % 997 + 1)) AS BIGINT) AS dst "
        "FROM events",
        xmin=2,
    )


def q_spotsigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T124 (operators/spotsigs.py): SpotSigs stopword-antecedent
    near-dup detection over the documents table. The synthetic corpus
    carries 'a'/'the' as natural antecedents and real perturbed-copy
    near-dups, so the candidate stage proposes genuine high-sim pairs
    (633 pairs / 33 dups at sf0.01) next to sub-threshold collisions
    from the small chain vocabulary — both branches of the integer
    τ test exercised. Oracle = the generated DuckDB twin of the whole
    extract→prune→verify pipeline."""
    from warcsum_spark.operators.spotsigs import spotsig_duplicates

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    return spotsig_duplicates(docs)


def _oracle_spotsigs() -> str:
    from warcsum_spark.operators.spotsigs import spotsigs_oracle_sql

    return spotsigs_oracle_sql("SELECT doc_id, text FROM documents")


def q_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T127 (operators/cluster_agree.py): pair-counting agreement
    between the order-blind bag duplicate clustering (reference:
    label = md5 of the sorted distinct token set) and the classic
    cheap BLOCKING key every record-linkage pass starts from
    (candidate: label = payload length). Pair recall is the blocking
    key's pairs-completeness — the fraction of true bag-dup pairs a
    length-bucketed dedup would even get to compare — and precision
    prices its candidate-pair waste; at sf0.01 all ten outputs are
    non-degenerate (tp=4, fp=249, fn=440). Oracle = the generated
    DuckDB twin on identically-derived labels."""
    from warcsum_spark.operators.cluster_agree import cluster_agreement

    docs = _t(spark, sf_dir, "documents")
    nrm = F.regexp_replace(
        F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                         r"[ \t\n\x0b\f\r]+", " "),
        "^ | $", "",
    )
    ref = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(
            F.concat_ws(
                " ", F.sort_array(F.array_distinct(F.split(nrm, " ")))
            )
        ).alias("label"),
    )
    cand = docs.select(
        F.col("doc_id").alias("id"),
        F.length("text").cast("string").alias("label"),
    )
    return cluster_agreement(ref, cand)


def _oracle_cluster_agreement() -> str:
    from warcsum_spark.operators.cluster_agree import (
        cluster_agreement_oracle_sql,
    )

    ref_sql = r"""
  SELECT doc_id AS id,
         md5(array_to_string(list_sort(list_distinct(string_split(
           trim(regexp_replace(lower(coalesce(text, '')),
                               '[ \t\n\x0b\f\r]+', ' ', 'g')), ' '))), ' '))
           AS label
  FROM documents
"""
    cand_sql = (
        "SELECT doc_id AS id, CAST(length(text) AS VARCHAR) AS label"
        " FROM documents"
    )
    return cluster_agreement_oracle_sql(ref_sql, cand_sql)


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T126 (operators/textrank.py): TextRank keywords over the
    documents corpus — the co-occurrence graph of the 31-word base
    vocabulary at window 2, scored by the gate-proven T32 PageRank
    engine (6 rounds, per-round round-10), top-50 by (score DESC,
    word). Oracle = the same list-lambda pair extraction feeding the
    generated unrolled-CTE PageRank twin."""
    from warcsum_spark.operators.textrank import textrank_keywords

    docs = _tp(spark, sf_dir, "documents").select("text")
    return textrank_keywords(docs, window=2, iters=6, k=50)


def _oracle_textrank() -> str:
    from warcsum_spark.operators.textrank import textrank_oracle_sql

    return textrank_oracle_sql(
        "SELECT text FROM documents", window=2, iters=6, k=50
    )


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T125 (operators/goodturing.py): Simple Good-Turing smoothing.
    The 31-word base vocabulary has no hapax tail, so the query layers
    a deterministic falling frequency-of-frequencies curve: two unique
    tokens per doc (N1 = 2·n docs), plus mod-250/166/125 group tokens
    (N2/N3/N4 ≈ n/2, n/3, n/4) under the base words' singleton head
    ranks. The resulting table exercises BOTH regimes — the r=1 row
    takes the classic Turing discount (r* = 2·N2/N1 = 0.5) while the
    switch rule hands every later rank to the smoothed line — and both
    p0 > 0 and the exact 1e9-scaled normalizer are live. Oracle = the
    generated DuckDB twin of the full pinned chain."""
    from warcsum_spark.operators.goodturing import good_turing

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.col("text"),
            F.lit(" zz"), F.col("doc_id").cast("string"),
            F.lit(" yy"), F.col("doc_id").cast("string"),
            F.lit(" qq"), (F.col("doc_id") % 250).cast("string"),
            F.lit(" gg"), (F.col("doc_id") % 166).cast("string"),
            F.lit(" hh"), (F.col("doc_id") % 125).cast("string"),
        ).alias("text")
    )
    return good_turing(docs)


def _oracle_good_turing() -> str:
    from warcsum_spark.operators.goodturing import good_turing_oracle_sql

    docs_sql = """
  SELECT text || ' zz' || CAST(doc_id AS VARCHAR)
              || ' yy' || CAST(doc_id AS VARCHAR)
              || ' qq' || CAST(doc_id % 250 AS VARCHAR)
              || ' gg' || CAST(doc_id % 166 AS VARCHAR)
              || ' hh' || CAST(doc_id % 125 AS VARCHAR) AS text
  FROM documents
"""
    return good_turing_oracle_sql(docs_sql)


def _oracle_rep_optout() -> str:
    """Rebuilds the HTML/header prep and re-parses it with the SAME
    RE2-safe regexes the engine compiles (imported, not re-typed), so
    the two engines can only agree by implementing the same REP
    directive semantics."""
    from warcsum_spark.functions.reptags import _meta_patterns

    p_nf, p_cf = _meta_patterns("warcsum")
    p_nf, p_cf = p_nf.replace("'", "''"), p_cf.replace("'", "''")
    return f"""
WITH pages AS (
  SELECT doc_id,
    '<html><head><meta charset="utf-8">'
    || CASE WHEN doc_id % 7 = 0
            THEN '<meta name="robots" content="noindex, nofollow">'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN '<meta content="noai" name=ROBOTS >' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN '<META NAME=''robots'' CONTENT=''none''>' ELSE '' END
    || '</head><body>' || substr(text, 1, 40) || '</body></html>' AS html,
    CASE WHEN doc_id % 13 = 0 THEN 'noarchive, nosnippet'
         WHEN doc_id % 17 = 0 THEN 'otherbot: noindex'
         WHEN doc_id % 19 = 0 THEN 'warcsum: noai' END AS hdr
  FROM documents
), scoped AS (
  SELECT doc_id, html, trim(coalesce(hdr, '')) AS h,
    lower(trim(regexp_extract(trim(coalesce(hdr, '')), '^([^:,]+):', 1)))
      AS pfx
  FROM pages
), toks AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        flatten([
          flatten(list_transform(regexp_extract_all(html, '{p_nf}', 1),
                                 s -> string_split(s, ','))),
          flatten(list_transform(regexp_extract_all(html, '{p_cf}', 1),
                                 s -> string_split(s, ','))),
          string_split(
            CASE WHEN pfx = '' THEN h
                 WHEN pfx = 'warcsum'
                   THEN regexp_replace(h, '^[^:,]+:', '')
                 ELSE '' END, ',')
        ]),
        t -> lower(trim(t))),
      t -> t <> '') AS t
  FROM scoped
)
SELECT doc_id,
  (list_contains(t, 'noindex') OR list_contains(t, 'none')) AS noindex,
  (list_contains(t, 'nofollow') OR list_contains(t, 'none')) AS nofollow,
  list_contains(t, 'noarchive') AS noarchive,
  list_contains(t, 'nosnippet') AS nosnippet,
  list_contains(t, 'noai') AS noai,
  list_contains(t, 'noimageai') AS noimageai,
  NOT (list_contains(t, 'noindex') OR list_contains(t, 'none')
       OR list_contains(t, 'noai')) AS train_eligible,
  NOT (list_contains(t, 'nofollow') OR list_contains(t, 'none'))
    AS follow_links
FROM toks
"""


def _oracle_line_dedup() -> str:
    from warcsum_spark.functions.repetition import _NONBLANK_RE

    return f"""
WITH prep AS (
  SELECT doc_id, source,
    'SHARE THIS' || chr(10) || w
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || w ELSE '' END
    || chr(10) || 'SHARE THIS' AS text
  FROM (SELECT doc_id, source,
               regexp_replace(text, '((?:\\S+ ){{8}})',
                              '\\1' || chr(10), 'g') AS w
        FROM documents)
), u AS (
  SELECT doc_id, source, unnest(lines) AS line,
         generate_subscripts(lines, 1) AS ord
  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS lines
        FROM prep)
), k AS (
  SELECT doc_id, source, line, ord,
    (NOT regexp_matches(line, '{_NONBLANK_RE}')
     OR ord = min(ord) OVER (PARTITION BY doc_id, line)) AS keep
  FROM u
)
SELECT doc_id, source,
  count(*)::BIGINT AS n_lines,
  (count(*) - count(*) FILTER (WHERE keep))::BIGINT AS n_dropped,
  coalesce(string_agg(line, chr(10) ORDER BY ord) FILTER (WHERE keep),
           '') AS clean_text
FROM k GROUP BY doc_id, source
"""


def _oracle_c4_clean() -> str:
    """Rebuilds the wrap/injection prep and re-evaluates C4's line and
    page rules with the SAME RE2-safe patterns the engine compiles
    (imported, not re-typed) and the same replace-length sentence
    arithmetic."""
    from warcsum_spark.functions.c4 import (
        TERMINAL_RE,
        THREE_WORDS_RE,
        TRAIL_WS_RE,
    )
    from warcsum_spark.functions.quality import WS_CLASS

    def cnt(col: str, marker: str) -> str:
        m = marker.replace("'", "''")
        return (
            f"CAST((length({col}) - length(replace({col}, '{m}', '')))"
            f" / {len(marker)} AS INT)"
        )

    return f"""
WITH prep AS (
  SELECT doc_id, lang,
    w || chr(10) || 'Too short' || chr(10)
      || 'Click here for javascript menu.'
      || CASE WHEN doc_id % 9 = 0
              THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
      || CASE WHEN doc_id % 8 = 0
              THEN chr(10) || 'if (x) {{ return 1; }}' ELSE '' END
      || CASE WHEN doc_id % 23 = 0
              THEN chr(10) || 'this page mentions obscenityone today.'
              ELSE '' END AS text
  FROM (SELECT doc_id, lang,
               regexp_replace(text, '((?:\\S+ ){{8}})',
                              '\\1.' || chr(10), 'g') AS w
        FROM documents)
), l AS (
  SELECT doc_id, lang, text, string_split(text, chr(10)) AS lines
  FROM prep
), k AS (
  SELECT doc_id, lang, text, lines,
    list_filter(lines,
      x -> regexp_matches(regexp_replace(x, '{TRAIL_WS_RE}', ''),
                          '{TERMINAL_RE}')
           AND regexp_matches(regexp_replace(x, '{TRAIL_WS_RE}', ''),
                              '{THREE_WORDS_RE}')
           AND NOT contains(
                 lower(regexp_replace(x, '{TRAIL_WS_RE}', '')),
                 'javascript')) AS kept
  FROM l
), c AS (
  SELECT doc_id, lang,
    len(lines)::BIGINT AS n_lines,
    len(kept)::BIGINT AS n_kept,
    array_to_string(kept, chr(10)) AS clean_text,
    ' ' || regexp_replace(regexp_replace(lower(text), '{WS_CLASS}+',
                                         ' ', 'g'),
                          '^ | $', '', 'g') || ' ' AS pad, text
  FROM k
), f AS (
  SELECT doc_id, lang, n_lines, n_kept, clean_text,
    ({cnt('clean_text', '.')} + {cnt('clean_text', '!')}
     + {cnt('clean_text', '?')})::BIGINT AS n_sentences,
    contains(pad, 'lorem ipsum') AS has_lorem_ipsum,
    contains(text, '{{') AS has_brace,
    (CASE WHEN {cnt('pad', ' obscenityone ')} > 0 THEN 1 ELSE 0 END
     + CASE WHEN {cnt('pad', ' obscenitytwo ')} > 0 THEN 1 ELSE 0 END
    )::INT AS blockword_hits
  FROM c
)
SELECT *, (n_sentences >= 5 AND NOT has_lorem_ipsum AND NOT has_brace
           AND blockword_hits = 0) AS keep_page
FROM f
"""


def _oracle_pmi() -> str:
    from warcsum_spark.functions.quality import WS_CLASS

    return f"""
WITH staged AS (
  SELECT regexp_replace(regexp_replace(lower(text),
           '{WS_CLASS}+', ' ', 'g'), '^ | $', '', 'g') AS norm
  FROM documents
), wsrc AS (
  SELECT string_split(norm, ' ') AS words FROM staged WHERE norm <> ''
), ex AS (
  SELECT words[i] AS w1, words[i + 1] AS w2
  FROM (SELECT words, unnest(generate_series(1, len(words))) AS i
        FROM wsrc)
), pc AS (
  SELECT w1, w2, count(*) AS c FROM ex GROUP BY ALL
), uni AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c_x FROM pc GROUP BY w1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(sum(c) FILTER (WHERE w2 IS NOT NULL) AS BIGINT) AS n_bi
  FROM pc
), s AS (
  SELECT pc.w1, pc.w2, pc.c::BIGINT AS c_xy, u1.c_x AS c_x,
         u2.c_x AS c_y,
         ln(((CAST(pc.c AS DOUBLE) * n_tok) * n_tok)
            / ((CAST(n_bi AS DOUBLE) * u1.c_x) * u2.c_x)) AS pmi
  FROM pc
  JOIN uni u1 ON pc.w1 = u1.w1
  JOIN uni u2 ON pc.w2 = u2.w1
  CROSS JOIN tot
  WHERE pc.w2 IS NOT NULL AND pc.c >= 5
), r AS (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank FROM s
)
SELECT CAST(rank AS INT) AS rank, w1, w2, c_xy, c_x, c_y,
       round(pmi, 6) AS pmi
FROM r WHERE rank <= 100
"""


# ---------------------------------------------------------------------------
# query catalogue
# ---------------------------------------------------------------------------

#: the driver's parquet tables (TESTDATA.md)
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: Every query, one row each: ``(name, builder, oracle, table)``.
#:
#: - Row order is ``queries()`` order. The driver checks the first 50
#:   entries, so the window carries the entries that most need a fresh
#:   hard-signal row; long-proven queries rotate to the back
#:   (tools/check_oracle.py still gates every entry).
#: - ``oracle`` is the DuckDB SQL, or an ``_oracle_*`` helper that builds
#:   it. Helpers taking ``sf_dir`` are data-dependent (materialized
#:   references, trained quantizers) and are rebuilt per scale factor;
#:   a ``None`` result leaves the query rows-only at that scale factor.
#: - ``table`` is the query's primary input table (the rows/sec
#:   denominator of ``bench.py --scale-suite``); ``None`` keeps the query
#:   out of the headline suite (``bench.HEADLINE``).
CATALOGUE = [
    # flagships
    ("doc_digest_manifest", q_doc_digest_manifest, ORACLE_DIGEST_MANIFEST, "documents"),
    ("doc_dedup_extended", q_doc_dedup_extended, ORACLE_DOC_DEDUP, "documents"),
    # rounds 3-late/4 — never inside the driver window before
    ("tag_topics_docs", q_tag_topics_docs, _oracle_tagging, "documents"),
    ("normalize_docs", q_normalize_docs, _oracle_normalize, "documents"),
    ("permute_docs", q_permute_docs, _oracle_permute, "documents"),
    ("lpa_communities", q_lpa_communities, _oracle_lpa, "events"),
    ("cross_batch_dedup", q_cross_batch_dedup, _oracle_cross_batch, "documents"),
    ("charset_sniff_docs", q_charset_sniff_docs, _oracle_charset, "documents"),
    ("length_quantiles", q_length_quantiles, _oracle_length_quantiles, "documents"),
    ("triangle_counts", q_triangle_counts, _oracle_triangles, "events"),
    ("entropy_docs", q_entropy_docs, _oracle_entropy, "documents"),
    ("url_templates", q_url_templates, _oracle_url_templates, "events"),
    ("embedding_drift", q_embedding_drift, _oracle_embedding_drift, "embeddings"),
    ("anchor_text", q_anchor_text, _oracle_anchor_text, "documents"),
    ("recrawl_schedule", q_recrawl_schedule, ORACLE_RECRAWL, "events"),
    ("host_budgets", q_host_budgets, ORACLE_HOST_BUDGETS, "events"),
    ("cdx_index", q_cdx_index, ORACLE_CDX, "documents"),
    ("crawl_traps", q_crawl_traps, ORACLE_CRAWL_TRAPS, "events"),
    ("lm_perplexity", q_lm_perplexity, ORACLE_LM_PERPLEXITY, "documents"),
    ("dsir_scores", q_dsir_scores, ORACLE_DSIR, "documents"),
    ("host_graph", q_host_graph, ORACLE_HOST_GRAPH, "events"),
    ("host_url_cardinality", q_host_url_cardinality, _oracle_host_url_cardinality, "events"),
    ("registrable_domains", q_registrable_domains, _oracle_registrable_domains, "events"),
    ("dust_rules", q_dust_rules, _oracle_dust_rules, "events"),
    ("wat_metadata", q_wat_metadata, ORACLE_WAT_METADATA, None),
    ("cms_heavy_hitters", q_cms_heavy_hitters, _oracle_cms_heavy_hitters, None),
    ("cc_star_chains", q_cc_star_chains, ORACLE_CC_STAR_CHAINS, None),
    ("span_dedup_docs", q_span_dedup_docs, _oracle_span_dedup, "documents"),
    ("simjoin_docs", q_simjoin_docs, ORACLE_NGRAM_JACCARD, "documents"),
    # bpe_merges and cluster_split (same connected-components round
    # profile) stay out of the headline suite: their sequential rounds
    # measure per-round fixed overhead (~0.55 s/round at any small sf),
    # not data throughput. Both stay oracle-gated and amortize with
    # corpus size like the frontier superstep (BENCH/BASELINE.md §scaling).
    ("bpe_merges", q_bpe_merges, _oracle_bpe, None),
    ("redirect_resolution", q_redirect_resolution, ORACLE_REDIRECTS, "documents"),
    ("containment_docs", q_containment_docs, ORACLE_CONTAINMENT, "documents"),
    ("semdedup_docs", q_semdedup_docs, _oracle_semdedup, "embeddings"),
    ("bm25_search", q_bm25_search, _oracle_bm25, "documents"),
    ("hop_distance", q_hop_distance, ORACLE_HOP_DISTANCE, "events"),
    ("revisit_rehydrate", q_revisit_rehydrate, ORACLE_REVISIT_REHYDRATE, "documents"),
    ("dsir_scores_xx", q_dsir_scores_xx, _oracle_dsir_xx, "documents"),
    ("temperature_mix", q_temperature_mix, _oracle_temperature_mix, "documents"),
    ("domain_gate", q_domain_gate, ORACLE_DOMAIN_GATE, "documents"),
    ("mime_sniff", q_mime_sniff, _oracle_mime_sniff, "documents"),
    ("fetch_times", q_fetch_times, _oracle_fetch_times, "events"),
    ("pack_sequences", q_pack_sequences, _oracle_pack_sequences, "documents"),
    ("cluster_split", q_cluster_split, _oracle_cluster_split, None),
    ("ccnet_buckets", q_ccnet_buckets, ORACLE_CCNET_BUCKETS, "documents"),
    ("trustrank_links", q_trustrank_links, _oracle_trustrank, None),
    # round-4 red row (driver canonicalizer), postings now stringified
    ("inverted_index", q_inverted_index, ORACLE_INVERTED_INDEX, "documents"),
    # the T66 Arrow scale tier as engine default
    ("entropy_docs_bytes", q_entropy_docs_bytes, _oracle_entropy_bytes, "documents"),
    # flagship re-check
    ("training_pipeline", q_training_pipeline, _oracle_training_pipeline, "documents"),
    # round-5 dedup/cleaning tier — never driver-checked; takes the two
    # slots freed by rotating the r4-green minhash_lsh_docs /
    # frontier_schedule re-checks behind the boundary (both stay under
    # the stricter local exact-compare gate)
    ("line_dedup_docs", q_line_dedup_docs, _oracle_line_dedup, "documents"),
    ("c4_clean_docs", q_c4_clean_docs, _oracle_c4_clean, "documents"),
    # ---- driver window boundary (first 50 above) ----
    ("minhash_lsh_docs", q_minhash_lsh_docs, _oracle_minhash_lsh, "documents"),
    ("frontier_schedule", q_frontier_schedule, ORACLE_FRONTIER_SCHEDULE, "events"),
    # long-proven: green in CORRECTNESS_r01–r04 driver runs
    ("pricing_agg", q_pricing_agg, ORACLE_PRICING, "lineitem"),
    ("window_events", q_window_events, ORACLE_WINDOW_EVENTS, "events"),
    ("join_segments", q_join_segments, ORACLE_JOIN_SEGMENTS, "orders"),
    ("topk_per_user", q_topk_per_user, ORACLE_TOPK, "events"),
    ("filter_orders", q_filter_orders, ORACLE_FILTER_ORDERS, None),
    ("customers_without_orders", q_customers_without_orders, ORACLE_NO_ORDERS, None),
    ("rollup_events", q_rollup_events, ORACLE_ROLLUP, None),
    ("exact_dedup_docs", q_exact_dedup_docs, ORACLE_EXACT_DEDUP, "documents"),
    ("ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD, None),
    ("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS, None),
    ("hash_split", q_hash_split, _oracle_hash_split, None),
    ("top_ngrams", q_top_ngrams, ORACLE_TOP_NGRAMS, None),
    ("simhash_docs", q_simhash_docs, _oracle_simhash, None),
    ("text_stats", q_text_stats, _oracle_text_stats, "documents"),
    ("ann_bruteforce", q_ann_bruteforce, ORACLE_ANN_BRUTE, "embeddings"),
    ("ann_lsh", q_ann_lsh, _oracle_ann_lsh, None),
    ("ann_ivf", q_ann_ivf, _oracle_ann_ivf, None),
    ("embedding_near_dup", q_embedding_near_dup, _oracle_embedding_near_dup, None),
    ("url_seen_gate", q_url_seen_gate, ORACLE_URL_SEEN, "events"),
    ("blocklist_gate", q_blocklist_gate, ORACLE_BLOCKLIST, None),
    ("asof_join_events", q_asof_join_events, ORACLE_ASOF, None),
    ("range_join_events", q_range_join_events, ORACLE_RANGE_JOIN, None),
    ("domain_mix_docs", q_domain_mix_docs, _oracle_domain_mix, None),
    ("pack_shards_docs", q_pack_shards_docs, ORACLE_PACK_SHARDS, None),
    ("sitemap_seed", q_sitemap_seed, ORACLE_SITEMAP, None),
    ("tfidf_top_terms", q_tfidf_top_terms, _oracle_tfidf, None),
    ("classify_quality_docs", q_classify_quality_docs, _oracle_classify, None),
    ("script_profile_docs", q_script_profile_docs, _oracle_script_profile, None),
    ("chunk_docs", q_chunk_docs, _oracle_chunk, None),
    ("stats_by_lang", q_stats_by_lang, ORACLE_STATS_BY_LANG, None),
    ("multimodal_features", q_multimodal_features, ORACLE_MULTIMODAL, None),
    ("sessionize_events", q_sessionize_events, ORACLE_SESSIONS, None),
    ("html_extract", q_html_extract, _oracle_html_extract, None),
    ("pii_redact", q_pii_redact, _oracle_pii_redact, None),
    ("link_extract", q_link_extract, ORACLE_LINK_EXTRACT, None),
    ("quality_filter_docs", q_quality_filter_docs, _oracle_quality_filter, None),
    ("repetition_signals", q_repetition_signals, _oracle_repetition, "documents"),
    ("para_dedup_docs", q_para_dedup_docs, _oracle_para_dedup, "documents"),
    ("decontaminate_docs", q_decontaminate_docs, ORACLE_DECONTAMINATE, None),
    ("boilerplate_docs", q_boilerplate_docs, _oracle_boilerplate, "documents"),
    ("stratified_sample_docs", q_stratified_sample_docs, _oracle_stratified, "documents"),
    ("pagerank_links", q_pagerank_links, _oracle_pagerank, "events"),
    ("hits_links", q_hits_links, _oracle_hits, "events"),
    ("snapshot_diff_docs", q_snapshot_diff_docs, ORACLE_SNAPSHOT_DIFF, "documents"),
    # round-5 additions (after the window: local gate + pytest carry
    # their evidence; the window stays reserved for the 43 backfills)
    ("rep_optout_gate", q_rep_optout_gate, _oracle_rep_optout, "documents"),
    ("pmi_collocations", q_pmi_collocations, _oracle_pmi, "documents"),
    ("priority_sample_docs", q_priority_sample, _oracle_priority_sample, "documents"),
    ("k_core_links", q_k_core, _oracle_k_core, "events"),
    ("harmonic_centrality", q_harmonic_centrality, _oracle_harmonic, "events"),
    ("bpe_encode_docs", q_bpe_encode_docs, _oracle_bpe_encode, "documents"),
    ("knlm_bigrams", q_knlm_bigrams, _oracle_knlm, "documents"),
    ("readability_docs", q_readability_docs, _oracle_readability, "documents"),
    ("corpus_laws", q_corpus_laws, _oracle_corpus_laws, "documents"),
    ("rrf_fusion", q_rrf_fusion, _oracle_rrf, "documents"),
    ("postings_compression", q_postings_compression, _oracle_postings, "documents"),
    ("docid_remap", q_docid_remap, _oracle_docid_remap, "documents"),
    ("kmv_overlap", q_kmv_overlap, _oracle_kmv, "documents"),
    ("assortativity", q_assortativity, _oracle_assortativity, "events"),
    ("change_rate_mle", q_change_rate, _oracle_change_rate, "events"),
    ("host_concentration", q_host_concentration, _oracle_host_concentration, "documents"),
    ("rp_distortion", q_rp_distortion, _oracle_rproj, "embeddings"),
    ("cocitation", q_cocitation, _oracle_cocitation, "events"),
    ("opic_importance", q_opic, _oracle_opic, "events"),
    ("bowtie_decomposition", q_bowtie, _oracle_bowtie, "events"),
    ("categorical_drift", q_categorical_drift, _oracle_categorical_drift, "documents"),
    ("mirror_hosts", q_mirror_hosts, _oracle_mirror_hosts, "documents"),
    ("unimax_budgets", q_unimax_budgets, _oracle_unimax, "documents"),
    ("effective_diameter", q_effective_diameter, _oracle_effective_diameter, "events"),
    ("ann_pq", q_ann_pq, _oracle_ann_pq, "embeddings"),
    ("modularity_links", q_modularity, _oracle_modularity, "events"),
    ("freshness_policy", q_freshness_policy, _oracle_freshness, "events"),
    ("wand_bounds", q_wand_bounds, _oracle_wand, "documents"),
    ("tokenizer_fertility", q_tokenizer_fertility, _oracle_tokenizer_fertility, "documents"),
    ("salsa_links", q_salsa, _oracle_salsa, "events"),
    ("moore_lewis_select", q_moore_lewis, _oracle_moore_lewis, "documents"),
    ("katz_links", q_katz, _oracle_katz, "events"),
    ("qlm_search", q_qlm_search, _oracle_qlm, "documents"),
    ("bbit_minhash_docs", q_bbit_minhash, _oracle_bbit, "documents"),
    ("cdc_dedup_docs", q_cdc_dedup, _oracle_cdc, "documents"),
    ("indegree_powerlaw", q_powerlaw, _oracle_powerlaw, "events"),
    ("edit_verified_docs", q_edit_verified, _oracle_edit_verified, "documents"),
    ("url_spam_hosts", q_url_spam, _oracle_url_spam, "events"),
    ("host_bursts", q_bursts, _oracle_bursts, "events"),
    ("spam_mass_links", q_spam_mass, _oracle_spam_mass, "events"),
    ("crawl_ordering", q_crawl_ordering, _oracle_crawl_ordering, "events"),
    ("imatch_docs", q_imatch, _oracle_imatch, "documents"),
    ("spotsig_dups", q_spotsigs, _oracle_spotsigs, "documents"),
    ("sgt_smoothing", q_good_turing, _oracle_good_turing, "documents"),
    ("textrank_keywords", q_textrank, _oracle_textrank, "documents"),
    ("dedup_tier_agreement", q_cluster_agreement, _oracle_cluster_agreement, "documents"),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: builder for name, builder, _, _ in CATALOGUE}


def oracle_sql_for(sf_dir: str) -> dict[str, str]:
    """DuckDB SQL per query, with the data-dependent oracles built for
    ``sf_dir``. Local tools running at another scale factor must use
    this: the IVF oracle inlines a quantizer TRAINED on the target data,
    and sf0.01 centroids against sf0.1 tables is a guaranteed spurious
    mismatch."""
    out = {}
    for name, _, oracle, _ in CATALOGUE:
        if callable(oracle):
            takes_sf = "sf_dir" in inspect.signature(oracle).parameters
            oracle = oracle(sf_dir) if takes_sf else oracle()
        if oracle is not None:
            out[name] = oracle
    return out


def oracle_sql() -> dict[str, str]:
    """The oracles at the scale factor the driver checks (sf0.01)."""
    return oracle_sql_for(SF001)
