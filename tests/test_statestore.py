"""StateStore seam (frontier/statestore.py): the crawl loop must be
persistence-agnostic — parquet store resume matches the simulator, and
the Iceberg implementation's MERGE-INTO/snapshot SQL has the mapped
shape (execution needs a catalog this sandbox lacks; the constructor
must say so instead of failing mid-write)."""

from __future__ import annotations

import pytest

from test_frontier import _fixture_dfs
from warcsum_spark.frontier.statestore import (
    IcebergStateStore,
    ParquetDirectoryStore,
    StateStore,
    create_pending_table_sql,
    create_seen_table_sql,
    merge_seen_sql,
    overwrite_pending_sql,
    run_crawl,
)
from warcsum_spark.frontier.superstep import (
    frontier_round,
    init_frontier,
    scheduled_order,
)
from warcsum_spark.oracle import simulate_crawl


def test_run_crawl_through_store_resumes_like_uninterrupted(spark, tmp_path):
    (seeds, link_graph, budgets, robots, seeds_df, lg_df, pol_df, robots_df) = (
        _fixture_dfs(spark)
    )
    sim = simulate_crawl(seeds, link_graph, budgets, robots, rounds=4)

    store = ParquetDirectoryStore(spark, str(tmp_path / "ckpt"))
    assert isinstance(store, StateStore)
    assert store.newest_round() is None

    state = init_frontier(spark, seeds_df)
    for rnd, (_, scheduled, _m) in enumerate(run_crawl(
        spark, store, state, lg_df, n_rounds=2,
        robots=robots_df, politeness=pol_df,
    )):
        assert scheduled_order(scheduled) == sim.scheduled_per_round[rnd], rnd
    assert store.newest_round() == 2

    resumed = store.load()
    assert resumed.round_no == 2
    assert resumed.pending.select("url").intersect(resumed.seen).count() == 0
    for rnd in (2, 3):
        resumed, scheduled = frontier_round(
            spark, resumed, lg_df, robots=robots_df, politeness=pol_df
        )
        assert scheduled_order(scheduled) == sim.scheduled_per_round[rnd], rnd


def test_iceberg_sql_shapes():
    """The generated SQL is the documented Iceberg mapping: bucket(N,host)
    partition transform, idempotent WHEN-NOT-MATCHED seen upsert, atomic
    INSERT OVERWRITE pending snapshot stamped with the round."""
    pend = create_pending_table_sql("cat.db.crawl_pending", host_hash_buckets=128)
    assert "USING iceberg" in pend
    assert "PARTITIONED BY (bucket(128, host))" in pend

    seen = create_seen_table_sql("cat.db.crawl_seen")
    assert "USING iceberg" in seen

    merge = merge_seen_sql("cat.db.crawl_seen", "src")
    assert "MERGE INTO cat.db.crawl_seen" in merge
    assert "WHEN NOT MATCHED THEN INSERT" in merge
    assert "ON t.url = s.url" in merge
    assert "WHEN MATCHED" not in merge  # pure insert-if-absent: idempotent

    over = overwrite_pending_sql("cat.db.crawl_pending", "src", round_no=7)
    assert "INSERT OVERWRITE cat.db.crawl_pending" in over
    assert "7 AS round_no" in over


def test_iceberg_store_requires_catalog(spark):
    with pytest.raises(RuntimeError, match="no Iceberg catalog"):
        IcebergStateStore(spark, "nonexistent_catalog", "crawl")


def test_run_crawl_commits_the_tail_round(spark, tmp_path):
    """n_rounds not a multiple of checkpoint_every: the final round must
    still land in the store, or a resume would silently replay it."""
    (_, _, _, _, seeds_df, lg_df, pol_df, robots_df) = _fixture_dfs(spark)
    store = ParquetDirectoryStore(spark, str(tmp_path / "ckpt2"))
    state = init_frontier(spark, seeds_df)
    for _ in run_crawl(
        spark, store, state, lg_df, n_rounds=3, checkpoint_every=2,
        robots=robots_df, politeness=pol_df,
    ):
        pass
    assert store.newest_round() == 3


def test_iceberg_time_travel_sql_shapes():
    """Every statement the time-travel resume path can emit: the
    .snapshots metadata walk, the per-snapshot round probe, and the
    VERSION AS OF reads of both tables."""
    from warcsum_spark.frontier.statestore import (
        snapshots_sql,
        time_travel_max_round_sql,
        time_travel_pending_sql,
        time_travel_seen_sql,
    )

    snaps = snapshots_sql("cat.db.crawl_pending")
    assert "FROM cat.db.crawl_pending.snapshots" in snaps
    assert "ORDER BY committed_at DESC" in snaps

    probe = time_travel_max_round_sql("cat.db.crawl_pending", 991)
    assert probe == (
        "SELECT max(round_no) AS r FROM cat.db.crawl_pending VERSION AS OF 991"
    )

    tp = time_travel_pending_sql("cat.db.crawl_pending", 991, 3)
    assert "VERSION AS OF 991" in tp
    assert "WHERE round_no = 3" in tp
    assert "round_no," not in tp  # projection drops the stamp column

    ts = time_travel_seen_sql("cat.db.crawl_seen", 881)
    assert ts == "SELECT url FROM cat.db.crawl_seen VERSION AS OF 881"


class _FakeDF:
    def __init__(self, rows=None, tag=None):
        self.rows, self.tag = rows or [], tag

    def collect(self):
        return self.rows


class _FakeConf:
    def get(self, key, default=None):
        return "org.apache.iceberg.spark.SparkCatalog"


class _FakeIcebergSpark:
    """Answers exactly the statements IcebergStateStore emits, from a
    canned snapshot history — pins the time-travel pairing logic
    (newest-first probe; seen snapshot = newest commit at-or-before the
    pending snapshot) without a catalog."""

    conf = _FakeConf()

    def __init__(self, pending_snaps, seen_snaps, round_of, newest):
        self._pending_snaps = pending_snaps  # newest-first dicts
        self._seen_snaps = seen_snaps
        self._round_of = round_of  # pending snapshot_id -> round
        self._newest = newest
        self.issued = []

    def sql(self, q):
        qn = " ".join(q.split())
        self.issued.append(qn)
        if ".snapshots" in qn:
            src = self._pending_snaps if "_pending" in qn else self._seen_snaps
            return _FakeDF(rows=list(src))
        if qn.startswith("SELECT max(round_no) AS r FROM") and "VERSION AS OF" in qn:
            sid = int(qn.rsplit(" ", 1)[1])
            return _FakeDF(rows=[{"r": self._round_of[sid]}])
        if qn.startswith("SELECT max(round_no) AS r FROM"):
            return _FakeDF(rows=[{"r": self._newest}])
        if qn.startswith("SELECT url, host, priority, depth FROM"):
            sid = int(qn.split("VERSION AS OF ")[1].split(" ")[0])
            return _FakeDF(tag=("pending", sid))
        if qn.startswith("SELECT url FROM") and "VERSION AS OF" in qn:
            sid = int(qn.rsplit(" ", 1)[1])
            return _FakeDF(tag=("seen", sid))
        raise AssertionError(f"unexpected statement: {qn}")

    def createDataFrame(self, rows, schema):
        return _FakeDF(tag=("empty-seen",))


def test_iceberg_historical_load_pairs_snapshots():
    """load(round_no=2) with newest=4: probes pending snapshots
    newest-first until the round-2 overwrite, reads it VERSION AS OF,
    and pairs the newest seen snapshot committed at-or-before it."""
    pending_snaps = [
        {"snapshot_id": 40, "committed_at": 400, "operation": "overwrite"},
        {"snapshot_id": 30, "committed_at": 300, "operation": "overwrite"},
        {"snapshot_id": 20, "committed_at": 200, "operation": "overwrite"},
        {"snapshot_id": 10, "committed_at": 100, "operation": "overwrite"},
    ]
    seen_snaps = [
        {"snapshot_id": 44, "committed_at": 395, "operation": "append"},
        {"snapshot_id": 33, "committed_at": 295, "operation": "append"},
        {"snapshot_id": 22, "committed_at": 195, "operation": "append"},
        {"snapshot_id": 11, "committed_at": 95, "operation": "append"},
    ]
    fake = _FakeIcebergSpark(
        pending_snaps, seen_snaps, round_of={40: 4, 30: 3, 20: 2, 10: 1}, newest=4
    )
    store = IcebergStateStore(fake, "cat", "crawl")
    state = store.load(round_no=2)
    assert state.round_no == 2
    assert state.pending.tag == ("pending", 20)
    # newest seen commit at-or-before committed_at=200 is snapshot 22
    assert state.seen.tag == ("seen", 22)
    # probe stopped at the target: snapshot 10 (round 1) never probed
    probes = [q for q in fake.issued if "VERSION AS OF" in q and "max(round_no)" in q]
    assert probes == [
        "SELECT max(round_no) AS r FROM cat.crawl_pending VERSION AS OF 40",
        "SELECT max(round_no) AS r FROM cat.crawl_pending VERSION AS OF 30",
        "SELECT max(round_no) AS r FROM cat.crawl_pending VERSION AS OF 20",
    ]


def test_iceberg_historical_load_missing_round_raises():
    fake = _FakeIcebergSpark(
        [{"snapshot_id": 40, "committed_at": 400, "operation": "overwrite"}],
        [],
        round_of={40: 4},
        newest=4,
    )
    store = IcebergStateStore(fake, "cat", "crawl")
    with pytest.raises(ValueError, match="snapshot history"):
        store.load(round_no=9)


def test_iceberg_historical_load_empty_seen_history():
    """A pending snapshot with no seen commit before it (first round,
    seen still empty) loads an empty seen set, not a crash."""
    fake = _FakeIcebergSpark(
        [{"snapshot_id": 10, "committed_at": 100, "operation": "overwrite"},
         {"snapshot_id": 20, "committed_at": 200, "operation": "overwrite"}][::-1],
        [{"snapshot_id": 22, "committed_at": 150, "operation": "append"}],
        round_of={10: 1, 20: 2},
        newest=2,
    )
    store = IcebergStateStore(fake, "cat", "crawl")
    state = store.load(round_no=1)
    assert state.pending.tag == ("pending", 10)
    assert state.seen.tag == ("empty-seen",)
