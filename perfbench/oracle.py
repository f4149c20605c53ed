"""DuckDB reference computations and the output check.

Each workload's expected output is computed here from the same generated
inputs, independently of Spark. Outputs are compared by row count and an
order-independent checksum over canonicalised columns, so file layout,
partitioning and row order do not matter, but any changed value does.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import duckdb

# column kinds -> canonical DuckDB expression; floats are rounded so that a
# value computed by the same IEEE operations compares equal on both sides
_CANON = {
    "int": "CAST({c} AS BIGINT)",
    "float": "round(CAST({c} AS DOUBLE), 6)",
    "str": "CAST({c} AS VARCHAR)",
    "date": "CAST({c} AS DATE)",
    "bool": "CAST({c} AS BOOLEAN)",
}

Digest = Tuple[int, int]


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    return con


def digest(con, relation_sql: str, columns: Sequence[Tuple[str, str]]) -> Digest:
    """(row count, sum of per-row hashes) of ``relation_sql`` over ``columns``."""
    exprs = ", ".join(_CANON[kind].format(c=f'"{name}"') for name, kind in columns)
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs}))::HUGEINT, 0) FROM ({relation_sql})"
    ).fetchone()
    return int(n), int(s)


def parquet_relation(path: str, hive: bool = False) -> str:
    glob = f"{path}/**/*.parquet"
    opt = ", hive_partitioning = true" if hive else ""
    return f"SELECT * FROM read_parquet('{glob}'{opt})"


# ----------------------------------------------------------------- batch_etl

BATCH_ETL_COLUMNS = [
    ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
    ("l_linenumber", "int"), ("l_quantity", "float"), ("l_extendedprice", "float"),
    ("l_discount", "float"), ("l_tax", "float"), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", "date"), ("o_custkey", "int"),
    ("o_orderdate", "date"), ("o_orderpriority", "str"), ("c_name", "str"),
    ("c_mktsegment", "str"), ("c_nationkey", "int"), ("revenue", "float"),
    ("order_year", "int"), ("ship_days", "int"), ("c_name_hash", "str"),
]


def batch_etl_expected(con, paths: Dict[str, str]) -> Digest:
    sql = f"""
        WITH j AS (
          SELECT l.*, o.o_custkey, o.o_orderdate, o.o_orderpriority,
                 c.c_name, c.c_mktsegment, c.c_nationkey
          FROM read_parquet('{paths["lineitem"]}') l
          JOIN read_parquet('{paths["orders"]}') o ON l.l_orderkey = o.o_orderkey
          JOIN read_parquet('{paths["customer"]}') c ON o.o_custkey = c.c_custkey
        ), e AS (
          SELECT *, l_extendedprice * (1 - l_discount) AS revenue,
                 year(o_orderdate) AS order_year,
                 datediff('day', o_orderdate, l_shipdate) AS ship_days,
                 sha256(c_name) AS c_name_hash
          FROM j
        )
        SELECT * FROM e
        QUALIFY row_number() OVER (
          PARTITION BY l_orderkey ORDER BY revenue DESC, l_linenumber DESC) = 1
    """
    return digest(con, sql, BATCH_ETL_COLUMNS)


# ---------------------------------------------------------- cdc_merge_stream

CDC_COLUMNS = [
    ("o_orderkey", "int"), ("o_custkey", "int"), ("o_orderstatus", "str"),
    ("o_totalprice", "float"), ("o_orderdate", "date"), ("o_orderpriority", "str"),
    ("recordmode", "str"), ("change_ts", "int"),
]
CDC_VALID_MODES = ("N", "U", "D")


def cdc_expected(con, target_init: str, files: List[str]) -> Digest:
    """Replay the change files in order: condense each file to the newest
    image per key (dropping keys whose newest image has an excluded mode),
    then merge: delete on ``D``, update when newer, insert the rest."""
    valid = ", ".join(f"'{m}'" for m in CDC_VALID_MODES)
    newer = ", ".join(
        f"CASE WHEN s.change_ts > t.change_ts THEN s.{c} ELSE t.{c} END AS {c}"
        for c, _ in CDC_COLUMNS
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE tgt AS SELECT * FROM read_parquet('{target_init}')")
    for path in files:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE src AS
            SELECT * FROM read_parquet('{path}')
            QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY change_ts DESC) = 1
        """)
        con.execute(f"DELETE FROM src WHERE recordmode IS NOT NULL AND recordmode NOT IN ({valid})")
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE tgt AS
            SELECT t.* FROM tgt t ANTI JOIN src s USING (o_orderkey)
            UNION ALL
            SELECT {newer} FROM tgt t JOIN src s USING (o_orderkey)
            WHERE s.recordmode <> 'D'
            UNION ALL
            SELECT s.* FROM src s ANTI JOIN tgt t USING (o_orderkey)
            WHERE s.recordmode <> 'D'
        """)
    return digest(con, "SELECT * FROM tgt", CDC_COLUMNS)


# ------------------------------------------------------------------ curation

CURATION_FOOTER = "CURATION FOOTER BOILERPLATE SHARED ACROSS EVERY PAGE"
CURATION_STOPWORDS = ["the", "a", "value", "table"]
CURATION_COLUMNS = [
    ("lang", "str"), ("parts", "int"), ("available", "int"),
    ("desired_tokens", "int"), ("plan_tokens", "int"), ("capped", "bool"),
    ("sample_rate_ppm", "int"), ("epochs_ppm", "int"), ("shortfall_tokens", "int"),
]

_TOKENS = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')"


def _shingles(n: int) -> str:
    return (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(generate_series(1, len(w)-{n-1}), "
        f"i -> array_to_string(w[i:i+{n-1}], ' ')) "
        f"ELSE [array_to_string(w, ' ')] END"
    )


def _minhash(num_hashes: int, prime: int, coeffs) -> str:
    mins = ",\n".join(
        f"list_min(list_transform(bs, x -> ({a}*x + {b}) % {prime}))"
        for a, b in coeffs[:num_hashes]
    )
    return f"[{mins}]"


def _bands(bands: int, rows: int) -> str:
    parts = ",\n".join(
        f"md5('{b}:' || array_to_string(sg[{b * rows + 1}:{b * rows + rows}], '|'))"
        for b in range(bands)
    )
    return f"[{parts}]"


def curation_sql(documents: str) -> str:
    """Stage-by-stage replay of the curation ACON: footer staging, gopher
    rules, corpus line dedup, MinHash-LSH (12 hashes, 4 bands) on the
    deduped text, 8-gram decontamination against ``doc_id % 50 = 0``, and
    the mixture plan over the survivors."""
    from lakehouse_engine_spark.datapipes.dedup import MINHASH_AB, MINHASH_P

    stop = ", ".join(f"'{w}'" for w in CURATION_STOPWORDS)
    return rf"""
        WITH documents AS (SELECT * FROM read_parquet('{documents}')),
        staged AS (
          SELECT doc_id, lang, n_chars,
                 substr(text, 1, 60) || chr(10) || '{CURATION_FOOTER}'
                   || chr(10) || substr(text, 61, 100000) AS tx
          FROM documents
        ),
        gb AS (
          SELECT doc_id, tx,
                 list_filter(string_split_regex(trim(tx), '\s+'), t -> t <> '') AS w,
                 list_filter(string_split(tx, chr(10)), l -> trim(l) <> '') AS ln
          FROM staged
        ),
        gc AS (
          SELECT doc_id,
                 len(w) AS n_words,
                 coalesce(list_sum(list_transform(w, t -> len(t))), 0) AS sum_wl,
                 (len(tx) - len(replace(tx, '#', '')))
                   + len(regexp_extract_all(tx, '(\.\.\.|…)')) AS n_sym,
                 len(ln) AS n_lines,
                 len(list_filter(ln, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_lines,
                 len(list_filter(ln, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ellipsis_lines,
                 len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
                 len(list_intersect(
                   list_distinct(list_filter(
                     string_split_regex(trim(lower(tx)), '\s+'), t -> t <> '')),
                   [{stop}])) AS sw_hits
          FROM gb
        ),
        keepers AS (
          SELECT doc_id FROM gc
          WHERE n_words >= 30 AND n_words <= 100000
            AND n_words > 0 AND sum_wl >= 3 * n_words
            AND sum_wl <= 10 * n_words
            AND 1000 * n_sym <= 100 * n_words
            AND 1000 * bullet_lines <= 900 * n_lines
            AND 1000 * ellipsis_lines <= 300 * n_lines
            AND 1000 * alpha_words >= 800 * n_words
            AND sw_hits >= 2
        ),
        gdocs AS (SELECT s.doc_id, s.tx FROM staged s JOIN keepers USING (doc_id)),
        lns AS (
          SELECT doc_id,
                 unnest(generate_series(0, len(string_split(tx, chr(10))) - 1)) AS idx,
                 unnest(string_split(tx, chr(10))) AS line
          FROM gdocs
        ),
        keyed AS (
          SELECT doc_id, idx, line,
                 (length(trim(line)) < 1) OR
                 (ROW_NUMBER() OVER (PARTITION BY md5(trim(line))
                                     ORDER BY doc_id, idx) = 1) AS keep
          FROM lns
        ),
        ded AS (
          SELECT doc_id,
                 COALESCE(string_agg(CASE WHEN keep THEN line END,
                                     chr(10) ORDER BY idx), '') AS t2
          FROM keyed GROUP BY doc_id
        ),
        mtoks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(t2)), '\s+'), t -> t <> '') AS w
          FROM ded
        ),
        msh AS (SELECT doc_id, {_shingles(3)} AS s FROM mtoks),
        mbases AS (
          SELECT doc_id, list_distinct(list_transform(
            s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % {MINHASH_P})) AS bs
          FROM msh
        ),
        msig AS (SELECT doc_id, {_minhash(12, MINHASH_P, MINHASH_AB)} AS sg FROM mbases),
        mbds AS (SELECT doc_id, {_bands(4, 3)} AS bh FROM msig),
        -- documents left empty by line dedup have no shingles here (NULL
        -- bands); dedup_minhash_lsh treats them as identical, so they share
        -- one bucket and only the lowest id survives
        mex AS (
          SELECT doc_id, coalesce(h0, 'empty') AS h
          FROM (SELECT doc_id, unnest(bh) AS h0 FROM mbds)
        ),
        mbuckets AS (SELECT h, min(doc_id) AS m FROM mex GROUP BY h),
        mheads AS (
          SELECT mex.doc_id, min(b.m) AS g
          FROM mex JOIN mbuckets b USING (h) GROUP BY mex.doc_id
        ),
        msurv AS (
          SELECT d.doc_id, d.t2
          FROM ded d JOIN mheads h ON d.doc_id = h.doc_id
          WHERE h.g = d.doc_id
        ),
        btoks AS (SELECT doc_id, {_TOKENS} AS w FROM documents WHERE doc_id % 50 = 0),
        bgr AS (SELECT unnest({_shingles(8)}) AS g FROM btoks),
        bg AS (SELECT DISTINCT g FROM bgr),
        dtoks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(t2)), '\s+'), t -> t <> '') AS w
          FROM msurv
        ),
        dgr AS (SELECT doc_id, unnest({_shingles(8)}) AS g FROM dtoks),
        hits AS (SELECT DISTINCT doc_id FROM dgr JOIN bg USING (g)),
        surv AS (SELECT doc_id FROM msurv WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        wt(lang, parts) AS (VALUES ('de', 30), ('en', 50), ('fr', 15), ('xx', 5)),
        avail AS (
          SELECT d.lang, SUM(d.n_chars)::BIGINT AS available
          FROM documents d JOIN surv USING (doc_id)
          WHERE d.lang IN ('en', 'de', 'fr', 'xx')
          GROUP BY d.lang
        ),
        base AS (
          SELECT wt.lang, CAST(wt.parts AS BIGINT) AS parts,
                 COALESCE(a.available, 0) AS available,
                 (CAST(1000000 AS BIGINT) * wt.parts) // 100 AS desired_tokens
          FROM wt LEFT JOIN avail a USING (lang)
        ),
        planned AS (
          SELECT *, LEAST(desired_tokens, (CAST(2000000 AS BIGINT) * available) // 1000000)
                      AS plan_tokens
          FROM base
        )
        SELECT lang, parts, available, desired_tokens, plan_tokens,
               plan_tokens < desired_tokens AS capped,
               CASE WHEN available > 0
                    THEN (plan_tokens * CAST(1000000 AS BIGINT)) // available
                    ELSE 0 END AS sample_rate_ppm,
               CASE WHEN available > 0
                    THEN (desired_tokens * CAST(1000000 AS BIGINT)) // available
                    ELSE 0 END AS epochs_ppm,
               desired_tokens - plan_tokens AS shortfall_tokens
        FROM planned
    """


def curation_expected(con, documents: str) -> Digest:
    return digest(con, curation_sql(documents), CURATION_COLUMNS)
