"""MERGE semantics (reference ``io/writers/delta_merge_writer.py:28-210``):
update/delete/insert predicates, column sets, insert-only — via the public
``load_data`` merge write_type on a parquet target (join-rewrite path; the
same MergeOptions drive DeltaTable.merge when delta-spark is present)."""

from __future__ import annotations

import os
import re

import pytest

from lakehouse_engine_spark import load_data

from tests.conftest import assert_df_equal


@pytest.fixture()
def target(spark, tmp_dir):
    path = os.path.join(tmp_dir, "tgt")
    spark.createDataFrame(
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300)],
        "id INT, tag STRING, val INT",
    ).write.parquet(path)
    return path


def _merge(spark, target, new_rows, merge_opts):
    load_data(
        {
            "input_specs": [
                {
                    "spec_id": "new",
                    "data_format": "dataframe",
                    "df_name": spark.createDataFrame(new_rows, "id INT, tag STRING, val INT"),
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "new",
                    "data_format": "parquet",
                    "location": target,
                    "write_type": "merge",
                    "merge_opts": merge_opts,
                }
            ],
        }
    )
    return spark.read.parquet(target)


def test_merge_upsert(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "updated", 222), (4, "inserted", 400)],
        {"merge_predicate": "current.id = new.id"},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "updated", 222), (3, "delete-me", 300), (4, "inserted", 400)],
    )


def test_merge_delete_predicate(spark, target):
    out = _merge(
        spark,
        target,
        [(3, "whatever", 0)],
        {"merge_predicate": "current.id = new.id", "delete_predicate": "current.tag = 'delete-me'"},
    )
    assert_df_equal(out, [(1, "keep", 100), (2, "update-me", 200)])


def test_merge_insert_only(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "should-not-update", 0), (5, "new", 500)],
        {"merge_predicate": "current.id = new.id", "insert_only": True},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (5, "new", 500)],
    )


def test_merge_update_predicate_and_column_set(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "touched", 999), (3, "touched", 999)],
        {
            "merge_predicate": "current.id = new.id",
            "update_predicate": "new.val > 500",
            "update_column_set": {"val": "new.val"},  # tag untouched
        },
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 999), (3, "delete-me", 999)],
    )


def test_merge_insert_predicate(spark, target):
    out = _merge(
        spark,
        target,
        [(6, "lowval", 1), (7, "highval", 1000)],
        {"merge_predicate": "current.id = new.id", "insert_predicate": "new.val >= 1000"},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (7, "highval", 1000)],
    )


def test_merge_insert_only_ignores_delete_predicate(spark, target):
    """insert_only + delete_predicate TOGETHER: Delta's builder adds
    whenMatchedDelete only under ``not insert_only`` (reference
    delta_merge_writer.py:110-139), so the matched row must SURVIVE —
    insert_only wins — while its source twin is deduped away and only
    genuinely-new keys insert. Pins the join-rewrite to the same rule."""
    out = _merge(
        spark,
        target,
        [(3, "would-delete", 0), (8, "new", 800)],
        {
            "merge_predicate": "current.id = new.id",
            "insert_only": True,
            "delete_predicate": "current.tag = 'delete-me'",
        },
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (8, "new", 800)],
    )


def test_merge_insert_only_with_insert_predicate_and_column_set(spark, target):
    """insert_only + insert_predicate + insert_column_set: matched source
    rows dedup away; unmatched rows pass the predicate filter and insert
    through the column set (unset columns become typed nulls) — the full
    whenNotMatchedInsert(condition, values) contract under insert_only."""
    out = _merge(
        spark,
        target,
        [(2, "dup", 0), (9, "low", 1), (10, "high", 1000)],
        {
            "merge_predicate": "current.id = new.id",
            "insert_only": True,
            "insert_predicate": "new.val >= 1000",
            "insert_column_set": {"id": "new.id", "val": "new.val"},  # no tag
        },
    )
    assert_df_equal(
        out,
        [
            (1, "keep", 100),
            (2, "update-me", 200),
            (3, "delete-me", 300),
            (10, None, 1000),
        ],
    )


def test_merge_all_clauses_together(spark, target):
    """The full clause set in ONE merge — delete predicate, conditional
    update with a column set, conditional insert: each matched row takes
    exactly one clause in Delta's order (delete, then update, else keep),
    and unmatched rows go through the insert filter. A clause whose
    condition is NULL does not fire: the NULL-delete row survives (and
    falls through to the update), the NULL-update row stays untouched and
    the NULL-insert row is dropped."""
    spark.createDataFrame(
        [(4, None, 400), (5, "null-update", 500)], "id INT, tag STRING, val INT"
    ).write.mode("append").parquet(target)
    out = _merge(
        spark,
        target,
        [
            (1, "src1", 50),     # matched: no delete, update cond val>60 fails -> untouched
            (2, "src2", 999),    # matched: update fires (val -> 999)
            (3, "src3", 0),      # matched: delete fires (tag = delete-me)
            (4, "src4", 70),     # matched: delete cond NULL -> kept, update fires
            (5, "src5", None),   # matched: update cond NULL -> untouched
            (11, "lo", 10),      # unmatched: insert cond fails -> dropped
            (12, "hi", 5000),    # unmatched: inserted
            (13, "null", None),  # unmatched: insert cond NULL -> dropped
        ],
        {
            "merge_predicate": "current.id = new.id",
            "delete_predicate": "current.tag = 'delete-me'",
            "update_predicate": "new.val > 60",
            "update_column_set": {"val": "new.val"},
            "insert_predicate": "new.val >= 1000",
        },
    )
    assert_df_equal(
        out,
        [
            (1, "keep", 100),
            (2, "update-me", 999),
            (4, None, 70),
            (5, "null-update", 500),
            (12, "hi", 5000),
        ],
    )


def _plan_nodes(df):
    """Node names of ``df``'s optimized logical plan, one per plan line."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [m.group(1) for m in re.finditer(r"(?m)^[\s:+\-]*(\w+)", plan)]


@pytest.mark.parametrize(
    "opts",
    [
        {"merge_predicate": "current.id = new.id"},
        {"merge_predicate": "current.id = new.id", "insert_only": True},
        {
            "merge_predicate": "current.id = new.id",
            "delete_predicate": "current.tag = 'delete-me'",
            "update_predicate": "new.val > 60",
            "update_column_set": {"val": "new.val"},
            "insert_predicate": "new.val >= 1000",
            "insert_column_set": {"id": "new.id", "val": "new.val"},
        },
    ],
    ids=["upsert", "insert_only", "all_clauses"],
)
def test_merge_rewrite_is_one_join_and_no_union(spark, target, opts):
    """The frame the rewrite checkpoints is ONE pass over ONE full outer
    join: every clause is applied per joined row by one filter and one
    projection, not by per-clause branches unioned back together."""
    from lakehouse_engine_spark.core.definitions import MergeOptions
    from lakehouse_engine_spark.io.merge_writer import _merged_frame

    new = spark.createDataFrame([(2, "x", 999), (12, "y", 5000)], "id INT, tag STRING, val INT")
    frame = _merged_frame(spark.read.parquet(target), new, MergeOptions(**opts))
    nodes = _plan_nodes(frame)
    assert nodes.count("Join") == 1, nodes
    assert "Union" not in nodes, nodes


def test_merge_column_names_with_dot_and_backtick(spark, tmp_dir):
    """Column names are identifiers, never parsed: a dotted name is not a
    struct-field access and a backtick does not break the reference."""
    path = os.path.join(tmp_dir, "odd")
    schema = "id INT, `v.x` STRING, `b``q` INT"
    spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema).write.parquet(path)
    load_data(
        {
            "input_specs": [
                {
                    "spec_id": "new",
                    "data_format": "dataframe",
                    "df_name": spark.createDataFrame([(2, "B", 21), (3, "c", 30)], schema),
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "new",
                    "data_format": "parquet",
                    "location": path,
                    "write_type": "merge",
                    "merge_opts": {
                        "merge_predicate": "current.id = new.id",
                        "update_predicate": "new.`b``q` > current.`b``q`",
                    },
                }
            ],
        }
    )
    out = spark.read.parquet(path)
    assert out.columns == ["id", "v.x", "b`q"]
    assert_df_equal(out, [(1, "a", 10), (2, "B", 21), (3, "c", 30)])


def test_merge_creates_target_on_first_load(spark, tmp_dir):
    fresh = os.path.join(tmp_dir, "fresh")
    out = _merge(spark, fresh, [(1, "first", 1)], {"merge_predicate": "current.id = new.id"})
    assert_df_equal(out, [(1, "first", 1)])


def test_merge_corrupt_target_fails_instead_of_overwriting(spark, tmp_dir):
    """A corrupt/unreadable target must FAIL the merge, not be treated as
    'first load' — the first-load branch OVERWRITES the target, so the old
    bare except turned any transient read failure into data loss. The
    target bytes must be untouched after the failed merge."""
    bad = os.path.join(tmp_dir, "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        _merge(spark, bad, [(1, "x", 1)], {"merge_predicate": "current.id = new.id"})
    assert sorted(os.listdir(bad)) == ["part-00000.parquet"]
    with open(os.path.join(bad, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"not a parquet file"


def test_catalog_schema_lookup_is_bulk_and_memoized(spark, tmp_dir):
    """_catalog_schema_for_location must not do one metastore round-trip
    per table: the walk is one bulk SHOW TABLE EXTENDED per database
    (zero per-table DESCRIBEs on catalogs that support it), and a second
    lookup for the same location hits the per-location memo — no catalog
    walk at all."""
    from unittest.mock import patch

    from lakehouse_engine_spark.io import merge_writer as mw

    spark.sql("CREATE DATABASE IF NOT EXISTS lookup_db")
    locs = []
    for i in range(5):
        loc = os.path.join(tmp_dir, f"lk{i}")
        spark.createDataFrame([(i, f"v{i}")], "id INT, val STRING").write.mode(
            "overwrite"
        ).parquet(loc)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS lookup_db.lk{i} (id INT, val STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        locs.append(loc)
    mw._LOCATION_TABLE_CACHE.clear()
    sql_calls = []
    real_sql = spark.sql

    def counting_sql(q, *a, **kw):
        sql_calls.append(q)
        return real_sql(q, *a, **kw)

    n_dbs = len(spark.catalog.listDatabases())
    with patch.object(spark, "sql", side_effect=counting_sql):
        schema = mw._catalog_schema_for_location(spark, locs[3])
        assert schema is not None and [f.name for f in schema.fields] == [
            "id", "val",
        ]
        first_pass = list(sql_calls)
        # bulk path: at most one SHOW per database, zero per-table DESCRIBEs
        assert not [q for q in first_pass if "DESCRIBE" in q], first_pass
        assert len(
            [q for q in first_pass if "SHOW TABLE EXTENDED" in q]
        ) <= n_dbs
        with patch.object(
            spark.catalog, "listDatabases", wraps=spark.catalog.listDatabases
        ) as ld:
            sql_calls.clear()
            schema2 = mw._catalog_schema_for_location(spark, locs[3])
            assert schema2 == schema
            # memo hit: no catalog walk; exactly one validating DESCRIBE
            # (the binding must be re-checked against the location so a
            # re-created table can't serve a stale schema), no SHOWs
            assert ld.call_count == 0
            assert not [q for q in sql_calls if "SHOW TABLE" in q], sql_calls
            assert len([q for q in sql_calls if "DESCRIBE" in q]) == 1, sql_calls
    # stale binding falls through to a re-walk instead of erroring
    spark.sql("DROP TABLE lookup_db.lk3")
    assert mw._catalog_schema_for_location(spark, locs[3]) is None
    for i in range(5):
        spark.sql(f"DROP TABLE IF EXISTS lookup_db.lk{i}")
    spark.sql("DROP DATABASE IF EXISTS lookup_db")


# ---------------------------------------------------------------------------
# multi-writer guard (io/table_lock.py): the parquet fallback's documented
# single-writer contract is ENFORCED — two interleaved writers get one
# winner and one loud ConcurrentWriterError, never a silent lost-update
# (real Delta gets this from atomic log commits,
# reference io/writers/delta_merge_writer.py:28-210)
# ---------------------------------------------------------------------------


def test_concurrent_merge_writers_one_wins(spark, target):
    """Writer B starts while writer A holds the lock: B raises instead of
    overwriting A's base state; after A releases, B's merge succeeds."""
    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    with WriterLock(spark, target, op="merge"):  # writer A mid-flight
        with pytest.raises(ConcurrentWriterError, match="concurrent writer"):
            _merge(
                spark, target,
                [(2, "updated", 999)],
                {"merge_predicate": "current.id = new.id"},
            )
        # A's view of the target is untouched by B's refused attempt
        assert spark.read.parquet(target).count() == 3
    got = _merge(  # A released: B retries and wins
        spark, target,
        [(2, "updated", 999)],
        {"merge_predicate": "current.id = new.id"},
    )
    assert [r["val"] for r in got.collect() if r["id"] == 2] == [999]
    assert got.count() == 3


def test_lock_steal_detected_before_overwrite(spark, tmp_dir):
    """A second writer that treated writer A's lock as stale and replaced
    it is detected by A's commit-time verify(): A refuses the overwrite
    (its materialized result no longer includes B's update)."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "steal_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge") as a:
        a.verify()  # still ours
        # writer B steals: removes A's lock file and claims its own
        _os.remove(_os.path.join(loc, "_lhe_writer.lock"))
        with WriterLock(spark, loc, op="merge"):
            with pytest.raises(ConcurrentWriterError, match="taken over"):
                a.verify()


def test_stale_lock_is_replaced_not_deadlocked(spark, tmp_dir):
    """A crashed writer's lock (acquired_unix far in the past) is replaced
    with a warning — the guard cannot deadlock an unattended pipeline."""
    import json as _json
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "stale_tgt")
    _os.makedirs(loc, exist_ok=True)
    with open(_os.path.join(loc, "_lhe_writer.lock"), "w") as fh:
        _json.dump({"token": "dead", "pid": 1, "op": "merge",
                    "acquired_unix": 1.0}, fh)
    with WriterLock(spark, loc, op="merge") as lk:
        lk.verify()  # claimed over the stale lock


def test_concurrent_cdf_commit_serializes_or_skips(spark, tmp_dir):
    """The CDF sidecar log's read-modify-write is guarded with a RETRY
    budget, and on persistent contention it SKIPS with a warning rather
    than raising — by the time record_commit runs, the data append has
    already landed, so an error could only trigger a duplicate-writing
    retry. Skipped files are swept into the NEXT commit's entry (the
    documented version-collapse fallback)."""
    import os as _os

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_tgt")
    spark.range(3).write.parquet(loc)
    with WriterLock(spark, loc, op="cdf_commit"):
        # held past the ~2s retry budget: no exception, no entry
        cdf_commit_log.record_commit(spark, loc, "append")
        assert cdf_commit_log.read_log(spark, loc) is None
    spark.range(2).write.mode("append").parquet(loc)
    cdf_commit_log.record_commit(spark, loc, "append")  # released
    entries = cdf_commit_log.read_log(spark, loc)
    # ONE sweeping entry claims all files (version collapse, not loss)
    assert entries and len(entries) == 1 and entries[0]["version"] == 1
    assert entries[0]["ts_ms"] > 0  # zone-free epoch millis stamped
    files = set(entries[0]["files"])
    import glob as _glob

    on_disk = {
        p for p in _glob.glob(_os.path.join(loc, "*.parquet"))
    }
    assert {f for f in files} == on_disk


def test_cdf_back_to_back_appends_serialize_through_retry(spark, tmp_dir):
    """A lock held only milliseconds (the real cdf hold time) is ridden
    out by the retry budget: the second writer WAITS and then commits
    its own entry — two appends, two versions, nothing skipped."""
    import os as _os
    import threading
    import time as _time

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_tgt2")
    spark.range(3).write.parquet(loc)
    cdf_commit_log.record_commit(spark, loc, "append")
    spark.range(2).write.mode("append").parquet(loc)
    lk = WriterLock(spark, loc, op="cdf_commit").__enter__()

    def _release_soon():
        _time.sleep(0.3)  # inside the ~2s retry budget
        lk.__exit__(None, None, None)

    t = threading.Thread(target=_release_soon)
    t.start()
    cdf_commit_log.record_commit(spark, loc, "append")  # waits, then wins
    t.join()
    entries = cdf_commit_log.read_log(spark, loc)
    assert entries and [e["version"] for e in entries] == [1, 2]


def test_object_store_racy_double_acquire_caught_at_verify(spark, tmp_dir):
    """S3-shaped probe (r13 verdict task): object-store create-overwrite=
    false is check-then-act, so two writers CAN both believe they
    acquired. Simulate B's racy PUT slipping through A's claim (a blind
    overwrite of the lock object, exactly what a last-writer-wins store
    does) and prove A's commit-time token verify still catches the steal
    BEFORE the destructive overwrite. The residual window — B overwrites
    between A's verify() and A's write — is documented in COVERAGE.md
    and table_lock.py's module docstring as best-effort-only on S3."""
    import json as _json
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "s3ish_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge") as a:
        # B's create "succeeded" on the object store despite A's object:
        # emulate with a direct overwrite carrying B's token.
        with open(_os.path.join(loc, "_lhe_writer.lock"), "w") as fh:
            _json.dump({"token": "writer-B", "pid": 99, "op": "merge",
                        "acquired_unix": 1e18}, fh)
        with pytest.raises(ConcurrentWriterError, match="taken over"):
            a.verify()


def test_empty_lock_payload_is_young_not_stolen(spark, tmp_dir):
    """ADVICE r13 pin: a lock whose payload is empty (reader raced the
    create-then-write two-step) must be aged by file MTIME — a
    milliseconds-old empty lock is a live holder (contention), not an
    ~epoch-old stale lock to steal."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "empty_lock_tgt")
    _os.makedirs(loc, exist_ok=True)
    open(_os.path.join(loc, "_lhe_writer.lock"), "w").close()  # 0 bytes
    with pytest.raises(ConcurrentWriterError, match="concurrent writer"):
        with WriterLock(spark, loc, op="merge"):
            pass
    # ...but a crashed writer's empty lock still expires via stale_after_s
    _os.utime(_os.path.join(loc, "_lhe_writer.lock"), (1.0, 1.0))
    with WriterLock(spark, loc, op="merge") as lk:
        lk.verify()


def test_local_claim_is_atomic_with_payload(spark, tmp_dir):
    """The local-FS arm claims via temp-file + os.link: the lock appears
    atomically WITH its full payload (no observable empty window), and
    two threads hammering acquire produce exactly one winner per round."""
    import json as _json
    import os as _os
    import threading

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "atomic_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge"):
        with open(_os.path.join(loc, "_lhe_writer.lock")) as fh:
            info = _json.load(fh)  # full payload, parseable immediately
        assert info["op"] == "merge" and info["token"]
    assert not _os.path.exists(_os.path.join(loc, "_lhe_writer.lock"))

    wins, errs = [], []

    def _race(tag):
        try:
            lk = WriterLock(spark, loc, op=tag).__enter__()
            wins.append((tag, lk))
        except ConcurrentWriterError:
            errs.append(tag)

    for _ in range(5):
        wins.clear(); errs.clear()
        ts = [threading.Thread(target=_race, args=(f"w{i}",)) for i in range(2)]
        [t.start() for t in ts]; [t.join() for t in ts]
        assert len(wins) == 1 and len(errs) == 1, (wins, errs)
        wins[0][1].__exit__(None, None, None)


def test_non_contention_create_failure_not_misdiagnosed(spark, tmp_dir):
    """ADVICE r13 pin: a create that fails for a NON-contention reason
    (permissions, transient IO) with no lock file present must re-raise
    the original error, not spin to exhaustion and claim 'a stale
    takeover attempt'."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "io_fail_tgt")
    _os.makedirs(loc, exist_ok=True)
    lk = WriterLock(spark, loc, op="merge")
    orig = lk._claim

    def _boom(fs, path, payload):
        raise IOError("Disk quota exceeded")

    lk._claim = _boom
    with pytest.raises(RuntimeError, match="non-contention") as ei:
        lk.__enter__()
    assert "quota" in str(ei.value.__cause__)
    lk._claim = orig
    with lk:  # the same lock object still works once IO recovers
        lk.verify()


def test_cdf_lock_retry_budget_env_knob(spark, tmp_dir, monkeypatch):
    """ADVICE r13 pin: LHE_CDF_LOCK_RETRIES sizes the commit-log lock
    retry budget for large-directory tables; 0 means don't wait at all
    (immediate skip under contention)."""
    import os as _os
    import time as _time

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_knob_tgt")
    spark.range(3).write.parquet(loc)
    monkeypatch.setenv("LHE_CDF_LOCK_RETRIES", "0")
    with WriterLock(spark, loc, op="cdf_commit"):
        t0 = _time.time()
        cdf_commit_log.record_commit(spark, loc, "append")  # skips fast
        assert _time.time() - t0 < 1.5
        assert cdf_commit_log.read_log(spark, loc) is None
    monkeypatch.setenv("LHE_CDF_LOCK_RETRIES", "not-a-number")
    cdf_commit_log.record_commit(spark, loc, "append")  # falls back to 40
    entries = cdf_commit_log.read_log(spark, loc)
    assert entries and entries[0]["version"] == 1


def test_does_not_exist_failure_not_treated_as_contention(spark, tmp_dir):
    """r14 review pin: a create failing with a '...does not exist'
    message (missing bucket/parent) must re-raise as non-contention —
    the bare-substring 'exist' match routed it into the retry loop."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "no_bucket_tgt")
    _os.makedirs(loc, exist_ok=True)
    lk = WriterLock(spark, loc, op="merge")

    def _boom(fs, path, payload):
        raise IOError("The specified bucket does not exist")

    lk._claim = _boom
    with pytest.raises(RuntimeError, match="non-contention") as ei:
        lk.__enter__()
    assert "bucket" in str(ei.value.__cause__)
