"""MERGE writer — Delta Lake when available, generic rewrite fallback otherwise.

Reference parity: ``io/writers/delta_merge_writer.py:28-210`` (full
MergeOptions semantics: delete/update/insert predicates + column sets,
insert-only mode). On clusters with delta-spark installed this is a real
``DeltaTable.merge`` (low-shuffle, file-pruned by the merge predicate). In
environments without Delta (this container) the same semantics run as a
rewrite: one full outer join of target and source, then one filter and one
projection that apply every clause per joined row, then an atomic
overwrite. That is one join per batch, but the I/O is still O(target) —
the whole table is read and rewritten — so the Delta path is the 100 TB
path.

Predicates reference the aliases ``current`` (target) and ``new`` (source),
exactly as in the reference.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import MergeOptions
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.utils.sql_parser import quote_ident


def merge(
    spark: SparkSession,
    df: DataFrame,
    merge_opts: MergeOptions,
    location: Optional[str] = None,
    db_table: Optional[str] = None,
    data_format: str = "delta",
) -> None:
    """Merge ``df`` (alias ``new``) into the target (alias ``current``)."""
    if ExecEnv.delta_available() and data_format == "delta":
        _merge_delta(spark, df, merge_opts, location, db_table)
    else:
        _merge_rewrite(spark, df, merge_opts, location, db_table, data_format)


def _target_exists(spark: SparkSession, location: Optional[str], db_table: Optional[str]) -> bool:
    # A real existence check, not a read wrapped in a bare except: the
    # "missing" branch OVERWRITES the target as a first load, so treating
    # a corrupt table or a transient FS error as "missing" would destroy
    # the target. Only a genuinely absent path/table means first load.
    if db_table:
        return spark.catalog.tableExists(db_table)
    from lakehouse_engine_spark.utils.fs_utils import path_exists

    return path_exists(spark, location)


def _merge_delta(spark, df, opts: MergeOptions, location, db_table) -> None:
    """Native Delta merge (used on real deployments)."""
    from delta.tables import DeltaTable

    if not _target_exists(spark, location, db_table):
        writer = df.write.format("delta").mode("overwrite")
        writer.saveAsTable(db_table) if db_table else writer.save(location)
        return
    tgt = (
        DeltaTable.forName(spark, db_table) if db_table else DeltaTable.forPath(spark, location)
    )
    builder = tgt.alias("current").merge(df.alias("new"), opts.merge_predicate)
    if not opts.insert_only:
        if opts.delete_predicate:
            builder = builder.whenMatchedDelete(condition=opts.delete_predicate)
        if opts.update_column_set:
            builder = builder.whenMatchedUpdate(
                condition=opts.update_predicate, set=opts.update_column_set
            )
        else:
            builder = builder.whenMatchedUpdateAll(condition=opts.update_predicate)
    if opts.insert_column_set:
        builder = builder.whenNotMatchedInsert(
            condition=opts.insert_predicate, values=opts.insert_column_set
        )
    else:
        builder = builder.whenNotMatchedInsertAll(condition=opts.insert_predicate)
    builder.execute()


def _normalize_fs_path(p: str) -> str:
    import os

    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            p = p[len(prefix):]
            break
    return os.path.normpath(p)


def _table_location(spark, db_table):
    """The catalog table's Location (None for managed tables we shouldn't
    pin) — saveAsTable(overwrite) recreates the table, so an EXTERNAL
    target must be re-pinned to its path or it silently turns managed."""
    try:
        rows = spark.sql(f"DESCRIBE FORMATTED {db_table}").collect()
        typ = next((r["data_type"] for r in rows if r["col_name"] == "Type"), "")
        if str(typ).strip().upper() != "EXTERNAL":
            return None
        return next(
            (r["data_type"] for r in rows if r["col_name"] == "Location"), None
        )
    except Exception:
        return None


def _save_table(frame, spark, db_table, fmt):
    writer = frame.write.format(fmt).mode("overwrite")
    loc = _table_location(spark, db_table)
    if loc:
        writer = writer.option("path", loc)
    writer.saveAsTable(db_table)
    # the overwrite REPLACED the files under the table's path; other
    # relations cached against that path (a different table object on the
    # same location, long-lived sessions) would otherwise resolve the
    # deleted part files — the Delta reference is transactional here, the
    # parquet fallback must invalidate explicitly
    spark.catalog.refreshTable(db_table)
    if loc:
        spark.catalog.refreshByPath(loc)


# location -> qualified table name, filled by successful lookups so a
# given path target walks the catalog at most once per session. Only the
# NAME binding is cached — the schema is re-read fresh on every hit, and
# a stale binding (table dropped since) falls through to a re-walk.
# WeakKeyDictionary keyed by the SparkSession OBJECT (not id(spark):
# addresses get reused after GC, which could hand a dead session's
# binding to a new session — and dead entries would never evict).
import weakref

_LOCATION_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _find_table_at_location_in_db(spark, db: str, want: str):
    """One ``SHOW TABLE EXTENDED`` round-trip resolves every table
    location in ``db`` at once (vs one DESCRIBE per table — thousands of
    metastore round-trips on a real catalog); per-table DESCRIBE remains
    as the fallback for catalogs that don't support the bulk form."""
    import re as _re

    try:
        rows = spark.sql(f"SHOW TABLE EXTENDED IN {db} LIKE '*'").collect()
        for r in rows:
            if r["isTemporary"]:
                continue
            m = _re.search(r"Location: (\S+)", r["information"] or "")
            if m and _normalize_fs_path(m.group(1)) == want:
                return f"{db}.{r['tableName']}"
        return None
    except Exception:
        pass
    for t in spark.catalog.listTables(db):
        if t.isTemporary:
            continue
        try:
            rows = spark.sql(f"DESCRIBE FORMATTED {db}.{t.name}").collect()
        except Exception:
            continue
        loc = next(
            (r["data_type"] for r in rows if r["col_name"] == "Location"), None
        )
        if loc and _normalize_fs_path(loc) == want:
            return f"{db}.{t.name}"
    return None


def _catalog_schema_for_location(spark, location):
    """The catalog table registered AT a path target is the schema
    authority for parquet-fallback merges — the honest equivalent of
    Delta's ``_delta_log`` role for path writes (Delta casts path writes
    to the table's declared schema; raw parquet has no such anchor).
    Control-plane lookup, consulted only on first load / empty target:
    one bulk ``SHOW TABLE EXTENDED`` per database (NOT one DESCRIBE per
    table), memoized per location for the session. Misses are NOT
    cached — the common flow creates the table right before the first
    merge, so a cached miss would wrongly skip the new registration."""
    if not location:
        return None
    # cache scoped to the SparkSession via weakref (round-11 ADVICE #4
    # residue): a module-global shared across sessions/catalogs could
    # serve one session's binding to another — the DESCRIBE validation
    # would usually catch it, but a same-named table in a different
    # catalog at the same path would not. Weak keys mean a session's
    # entries die WITH the session (no id() reuse, no leak).
    want = _normalize_fs_path(location)
    per_session = _LOCATION_TABLE_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _LOCATION_TABLE_CACHE[spark] = per_session
    hit = per_session.get(want)
    if hit:
        # validate the binding still points AT the location (one DESCRIBE
        # on one table): a dropped table, or a same-named table re-created
        # at a different path, must fall through to a re-walk instead of
        # serving a stale schema authority
        try:
            rows = spark.sql(f"DESCRIBE FORMATTED {hit}").collect()
            loc = next(
                (r["data_type"] for r in rows if r["col_name"] == "Location"),
                None,
            )
            if loc and _normalize_fs_path(loc) == want:
                return spark.table(hit).schema
            per_session.pop(want, None)
        except Exception:
            per_session.pop(want, None)
    try:
        for db in spark.catalog.listDatabases():
            name = _find_table_at_location_in_db(spark, db.name, want)
            if name:
                per_session[want] = name
                return spark.table(name).schema
    except Exception:
        return None
    return None


def _store_assign(df, schema, keep_extra: bool = False):
    """Delta store-assignment semantics: cast the incoming columns to the
    target's declared types (by name, CASE-INSENSITIVELY — Spark/Delta
    resolution treats `article`/`ARTICLE` as the same column, and the
    target's casing wins); target columns absent from the source become
    typed nulls. ``keep_extra`` keeps source-only columns (so merge
    predicates can still reference them — the written result is
    target-schema-driven either way); first loads drop them (the declared
    DDL wins, as with Delta path writes)."""
    by_lower = {c.lower(): c for c in df.columns}
    out = []
    for f_ in schema.fields:
        src = by_lower.get(f_.name.lower())
        if src is not None:
            out.append(F.col(quote_ident(src)).cast(f_.dataType).alias(f_.name))
        else:
            out.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    if keep_extra:
        named = {f_.name.lower() for f_ in schema.fields}
        out.extend(F.col(quote_ident(c)) for c in df.columns if c.lower() not in named)
    return df.select(*out)


def _merge_rewrite(spark, df, opts: MergeOptions, location, db_table, data_format) -> None:
    """Join-based merge for non-Delta targets.

    Packs each side into a struct column named after its merge alias so the
    user's ``current.x = new.y`` predicates evaluate unchanged as struct-field
    accesses. The result is one pass over one full outer join (see
    :func:`_merged_frame`): each joined row is kept or dropped by one filter
    and takes its insert, update or current values in one projection. The
    whole target is still read and rewritten per call. Store assignment
    follows Delta: the target's declared schema (the table itself, or the
    catalog table registered at a path target) casts the incoming frame
    before merging, so e.g. a CSV batch whose inferSchema disagrees with the
    DDL lands with the declared types.

    Concurrency: the whole read→join→overwrite is guarded by the
    best-effort :class:`~lakehouse_engine_spark.io.table_lock.WriterLock`
    — two engine writers racing the same target get ONE winner and one
    loud ``ConcurrentWriterError`` instead of a silent lost-update (real
    Delta serializes via atomic log commits, reference
    ``io/writers/delta_merge_writer.py:28-210``; a raw filesystem can
    only approximate that with atomic lock-file creation).
    """
    from lakehouse_engine_spark.io.table_lock import WriterLock

    fmt = data_format if data_format != "delta" else "parquet"
    lock_loc = location or _table_location(spark, db_table)
    if lock_loc is None:
        # managed table with no resolvable path (embedded single-process
        # metastore): nothing to anchor a lock file to; proceed under the
        # documented single-writer assumption
        _merge_rewrite_locked(spark, df, opts, location, db_table, fmt, None)
        return
    with WriterLock(spark, lock_loc, op="merge") as lk:
        _merge_rewrite_locked(spark, df, opts, location, db_table, fmt, lk)


def _merge_rewrite_locked(spark, df, opts: MergeOptions, location, db_table, fmt, lock) -> None:

    def _first_load():
        frame = df
        schema = (
            spark.table(db_table).schema
            if db_table and spark.catalog.tableExists(db_table)
            else _catalog_schema_for_location(spark, location)
        )
        if schema is not None:
            frame = _store_assign(frame, schema)
        if lock is not None:
            lock.verify()  # detect a mid-flight lock steal before writing
        if db_table:
            _save_table(frame, spark, db_table, fmt)
        else:
            frame.write.format(fmt).mode("overwrite").save(location)

    if not _target_exists(spark, location, db_table):
        _first_load()
        return

    try:
        target = spark.read.table(db_table) if db_table else spark.read.format(fmt).load(location)
        target.schema  # force schema resolution now
    except Exception as exc:  # pre-created EMPTY target dir (DDL, no data)
        if "UNABLE_TO_INFER_SCHEMA" in str(exc) or "Unable to infer" in str(exc):
            _first_load()
            return
        raise
    result = _merged_frame(target, df, opts)
    # Materialize before overwriting the table we read from.
    result = result.localCheckpoint(eager=True)
    if lock is not None:
        # last gate before the destructive overwrite: if another writer
        # stole the lock (treated ours as stale), our materialized result
        # no longer includes their update — refuse loudly
        lock.verify()
    if db_table:
        _save_table(result, spark, db_table, fmt)
    else:
        result.write.format(fmt).mode("overwrite").save(location)


def _merged_frame(target: DataFrame, df: DataFrame, opts: MergeOptions) -> DataFrame:
    """The merge result of ``df`` (alias ``new``) into ``target`` (alias
    ``current``): one full outer join, one filter, one projection.

    Per joined row, with Delta's clause order (delete, then update, else
    keep; unmatched source rows go through the insert clause):

    - a target-only row is kept as is;
    - a matched row is dropped if the delete clause fires, takes the update
      values if the update clause fires, and is kept as is otherwise;
    - a source-only row is inserted if the insert clause fires.

    A clause condition that evaluates to NULL does not fire (Delta rule):
    a NULL delete keeps the row, a NULL update leaves it untouched, and a
    NULL insert drops it. Under ``insert_only`` matched rows are never
    deleted or updated.
    """
    src_cols = {c.lower() for c in df.columns}
    auto_merge_flag = (
        df.sparkSession.conf.get(
            "spark.databricks.delta.schema.autoMerge.enabled", "false"
        )
        or "false"
    ).lower() == "true"
    # Delta's updateAll/insertAll REQUIRE every target column in the
    # source unless schema evolution is on — silently null-filling would
    # resurrect rows with wrong values where Delta fails loudly
    lacking = [
        f_.name
        for f_ in target.schema.fields
        if f_.name.lower() not in src_cols
    ]
    if lacking and not auto_merge_flag and not (
        opts.update_column_set and opts.insert_column_set
    ):
        raise ValueError(
            f"merge: source is missing target columns {lacking} and "
            "spark.databricks.delta.schema.autoMerge.enabled is false "
            "(Delta updateAll/insertAll semantics)"
        )
    df = _store_assign(df, target.schema, keep_extra=True)
    if auto_merge_flag:
        # Delta schema evolution: new source columns evolve the target
        # schema (existing rows get typed nulls); updateAll/insertAll then
        # write them through like any other column
        src_types = dict(df.dtypes)
        tgt_lower = {c.lower() for c in target.columns}
        for c in df.columns:
            if c.lower() not in tgt_lower:
                target = target.withColumn(c, F.lit(None).cast(src_types[c]))
    cols = target.columns
    tgt_types = dict(target.dtypes)
    cur = target.select(F.struct(*[F.col(quote_ident(c)) for c in cols]).alias("current"))
    new = df.select(F.struct(*[F.col(quote_ident(c)) for c in df.columns]).alias("new"))
    joined = cur.join(new, on=F.expr(opts.merge_predicate), how="full_outer")

    current, incoming = F.col("current"), F.col("new")
    source_only = current.isNull()
    matched = current.isNotNull() & incoming.isNotNull()

    def fires(predicate: Optional[str], absent: bool):
        if not predicate:
            return F.lit(absent)
        return F.coalesce(F.expr(predicate), F.lit(False))

    deleted = F.lit(False) if opts.insert_only else fires(opts.delete_predicate, False)
    updated = F.lit(False) if opts.insert_only else fires(opts.update_predicate, True)
    inserted = fires(opts.insert_predicate, True)
    keep = incoming.isNull() | (matched & ~deleted) | (source_only & inserted)

    def update_value(c: str):
        if opts.update_column_set:
            if c in opts.update_column_set:
                return F.expr(opts.update_column_set[c])
            return current.getField(c)
        # Delta updateAll = "SET *" over the SOURCE's columns: a target
        # column absent from the original source keeps its CURRENT value
        # on update (inserts leave it null)
        return incoming.getField(c) if c.lower() in src_cols else current.getField(c)

    def insert_value(c: str):
        if not opts.insert_column_set:
            return incoming.getField(c)
        if c in opts.insert_column_set:
            return F.expr(opts.insert_column_set[c])
        return F.lit(None).cast(tgt_types[c])

    return joined.filter(keep).select(
        *[
            F.when(source_only, insert_value(c))
            .when(matched & updated, update_value(c))
            .otherwise(current.getField(c))
            .alias(c)
            for c in cols
        ]
    )
