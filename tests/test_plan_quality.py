"""Physical-plan regression gates: the plans we designed for must stay the
plans we get (SURVEY §4) — single exchange for the dedup windows, parquet
filter pushdown, broadcast joins for small dims, cluster-preserving
partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from warcsum_spark.operators.collres import resolve_collisions


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _manifest(spark, n=200):
    rows = [
        ("f.warc.gz", i, 10, f"http://h/{i}", "2015-01-01", f"sha1:{i % 37:02x}", bytes([i % 11]))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "warcfile string, offset long, length long, uri string, date string, "
        "digest string, payload binary",
    )


def test_collres_single_exchange(spark):
    """Both dedup window specs must share ONE hash exchange on digest —
    the whole 4-stage pipeline's only wide boundary (SURVEY §3.3) — and
    add exactly one sort and one window operator each."""
    plan = _plan(resolve_collisions(_manifest(spark)))
    for node, want in (("Exchange hashpartitioning", 1), ("Window [", 2), ("Sort [", 2)):
        n = plan.count(node)
        assert n == want, f"expected {want} {node!r}, plan has {n}:\n{plan[:3000]}"


def test_parquet_filter_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: html-sized columns never read
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_broadcast_join_for_small_dim(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_minhash_band_join_shuffles_slim_rows(spark):
    """The band self-join must never shuffle the m×8-byte signature array —
    only (doc_id, band_id, band_hash) cross the exchange; signatures are
    re-attached once per surviving candidate pair."""
    from warcsum_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(lsh_candidate_pairs(minhash_signatures(docs), bands=16))

    def output_names(project_line: str) -> list[str]:
        """Top-level output entries of a 'Project [a, expr AS b, ...]' line,
        reduced to their final name (alias or bare column)."""
        body = project_line.split("Project [", 1)[1]
        depth, buf, items = 0, "", []
        for ch in body:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if ch == "]" and depth == 0:
                    break
                depth -= 1
            if ch == "," and depth == 0:
                items.append(buf)
                buf = ""
            else:
                buf += ch
        items.append(buf)
        return [it.split(" AS ")[-1].strip() for it in items]

    # every exchange partitioning on band keys must be fed by a projection
    # whose OUTPUT does not carry the signature array (consuming sig to
    # compute band_hash is fine; shipping it through the shuffle is not)
    checked = 0
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        if "band" not in chunk.split("\n", 1)[0]:
            continue
        feeder = next((l for l in chunk.splitlines()[1:] if "Project [" in l), "")
        assert feeder, chunk[:500]
        names = output_names(feeder)
        assert not any(n.startswith("sig#") for n in names), names
        checked += 1
    assert checked >= 1, plan[:2000]


def test_digest_clusters_never_straddle_partitions(spark):
    """O2 parity: warcsumsplit's cluster-preserving split (warcsumsplit:150
    –231) holds by construction under hash partitioning."""
    df = _manifest(spark, 500).repartition(7, "digest").withColumn(
        "pid", F.spark_partition_id()
    )
    bad = (
        df.groupBy("digest")
        .agg(F.count_distinct("pid").alias("np"))
        .filter(F.col("np") > 1)
        .count()
    )
    assert bad == 0
