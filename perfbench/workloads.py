"""The three benchmark workloads: ACONs, inputs, per-run reset and output check.

Each workload is one ACON that the benchmark submits through ``load_data``
in a closed loop. Input sizes are fixed here so that every commit measures
the same work; only ``--seed`` changes the data.
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Optional

from perfbench import inputs, oracle

# Input sizes. lineitem has ~4 rows per order, customer one per 10 orders.
BATCH_ORDERS = 20_000
CDC_ORDERS = 10_000
CDC_FILES = 10
CDC_TOUCH = 0.03
CURATION_DOCS = 500

DATABASE = "perfbench"


def _tree_bytes(root: str, suffix: str = "") -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Workload:
    """One ACON over seeded inputs under ``work_dir``."""

    name = ""
    streaming = False

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "input")
        self.out_dir = os.path.join(work_dir, "output")
        self.output = os.path.join(self.out_dir, "table")
        self.expected: Optional[oracle.Digest] = None
        self.rows_changed: Optional[int] = None

    def prepare(self, con) -> None:
        """Generate the inputs and compute the expected output digest."""
        raise NotImplementedError

    def acon(self) -> dict:
        raise NotImplementedError

    def output_digest(self, con) -> oracle.Digest:
        raise NotImplementedError

    def sizes(self) -> Dict[str, int]:
        raise NotImplementedError

    def reset(self, spark) -> None:
        """Return the output locations to their initial state (untimed)."""
        spark.catalog.clearCache()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir, exist_ok=True)

    def output_bytes(self) -> int:
        """Bytes of the final output table's data files."""
        return _tree_bytes(self.output, ".parquet")


class BatchEtl(Workload):
    """A scheduled batch load, the reference's main traffic: io readers and
    writers, core transformers, DQ, a terminator and JVM shuffles, with no
    Python workers and no datapipes."""

    name = "batch_etl"

    def prepare(self, con) -> None:
        self.paths = inputs.write_tpch(self.input_dir, self.seed, BATCH_ORDERS)
        self.expected = oracle.batch_etl_expected(con, self.paths)

    def sizes(self) -> Dict[str, int]:
        import pyarrow.parquet as pq

        return {t: pq.ParquetFile(p).metadata.num_rows for t, p in self.paths.items()}

    def reset(self, spark) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {DATABASE}")
        super().reset(spark)

    def acon(self) -> dict:
        p = self.paths
        return {
            "input_specs": [
                {"spec_id": "lineitem", "data_format": "parquet", "location": p["lineitem"]},
                {"spec_id": "orders", "data_format": "parquet", "location": p["orders"]},
                {"spec_id": "customer", "data_format": "parquet", "location": p["customer"]},
            ],
            "transform_specs": [{
                "spec_id": "fact",
                "input_id": "lineitem",
                "transformers": [
                    {"function": "join", "args": {
                        "join_with": "orders",
                        "join_condition": "a.l_orderkey = b.o_orderkey",
                        "broadcast_join": False,
                        "select_cols": ["a.*", "b.o_custkey", "b.o_orderdate", "b.o_orderpriority"],
                    }},
                    {"function": "join", "args": {
                        "join_with": "customer",
                        "join_condition": "a.o_custkey = b.c_custkey",
                        "select_cols": ["a.*", "b.c_name", "b.c_mktsegment", "b.c_nationkey"],
                    }},
                    {"function": "with_expressions", "args": {"cols_and_exprs": {
                        "revenue": "l_extendedprice * (1 - l_discount)",
                        "order_year": "year(o_orderdate)",
                        "ship_days": "datediff(l_shipdate, o_orderdate)",
                    }}},
                    {"function": "hash_masker", "args": {"cols": ["c_name"]}},
                    {"function": "group_and_rank", "args": {
                        "group_key": ["l_orderkey"],
                        "ranking_key": ["revenue", "l_linenumber"],
                    }},
                ],
            }],
            "dq_specs": [{
                "spec_id": "fact_checked",
                "input_id": "fact",
                "dq_type": "validator",
                "result_sink_location": os.path.join(self.out_dir, "dq_results"),
                "result_sink_format": "parquet",
                "dq_functions": [
                    {"function": "expect_column_values_to_not_be_null",
                     "args": {"column": "l_orderkey"}},
                    {"function": "expect_column_values_to_be_between",
                     "args": {"column": "l_discount", "min_value": 0, "max_value": 0.1}},
                    {"function": "expect_column_values_to_be_in_set",
                     "args": {"column": "l_returnflag", "value_set": ["A", "N", "R"]}},
                    {"function": "expect_column_values_to_be_unique",
                     "args": {"column": "l_orderkey"}},
                    {"function": "expect_table_row_count_to_be_between",
                     "args": {"min_value": 1, "max_value": 10 * BATCH_ORDERS}},
                ],
            }],
            "output_specs": [{
                "spec_id": "fact_out",
                "input_id": "fact_checked",
                "write_type": "overwrite",
                "data_format": "parquet",
                "db_table": f"{DATABASE}.fact",
                "location": self.output,
                "partitions": ["order_year"],
            }],
            "terminate_specs": [{
                "function": "optimize_dataset",
                "args": {"db_table": f"{DATABASE}.fact"},
            }],
        }

    def output_digest(self, con) -> oracle.Digest:
        rel = oracle.parquet_relation(self.output, hive=True)
        return oracle.digest(con, rel, oracle.BATCH_ETL_COLUMNS)


class CdcMergeStream(Workload):
    """Streaming CDC merge: the io layer used for writes, where small inputs
    cause whole-table rewrites, plus the DataLoader's streaming re-plan into
    ``foreachBatch``. A read-side gain that costs writes shows here."""

    name = "cdc_merge_stream"
    streaming = True

    def prepare(self, con) -> None:
        paths = inputs.write_tpch(self.input_dir, self.seed, CDC_ORDERS)
        self.cdc = inputs.write_cdc(self.input_dir, self.seed, paths["orders"], CDC_FILES, CDC_TOUCH)
        self.rows_changed = self.cdc.rows_changed
        self.checkpoint = os.path.join(self.out_dir, "checkpoint")
        self.expected = oracle.cdc_expected(con, self.cdc.target_init, self.cdc.files)

    def sizes(self) -> Dict[str, int]:
        import pyarrow.parquet as pq

        return {
            "target": pq.ParquetFile(self.cdc.target_init).metadata.num_rows,
            "change_files": len(self.cdc.files),
            "change_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in self.cdc.files),
            "keys_changed": self.cdc.rows_changed,
        }

    def reset(self, spark) -> None:
        super().reset(spark)
        os.makedirs(self.output)
        shutil.copy(self.cdc.target_init, self.output)

    def acon(self) -> dict:
        return {
            "input_specs": [{
                "spec_id": "changes",
                "read_type": "streaming",
                "data_format": "parquet",
                "schema": inputs.CDC_DDL,
                "location": self.cdc.landing,
                "options": {"maxFilesPerTrigger": 1},
            }],
            "transform_specs": [{
                "spec_id": "condensed",
                "input_id": "changes",
                "transformers": [{
                    "function": "condense_record_mode_cdc",
                    "args": {
                        "business_key": ["o_orderkey"],
                        "ranking_key_desc": ["change_ts"],
                        "record_mode_col": "recordmode",
                        "valid_record_modes": list(oracle.CDC_VALID_MODES),
                    },
                }],
            }],
            "output_specs": [{
                "spec_id": "orders_merged",
                "input_id": "condensed",
                "write_type": "merge",
                "data_format": "parquet",
                "location": self.output,
                "options": {"checkpointLocation": self.checkpoint},
                "merge_opts": {
                    "merge_predicate": "current.o_orderkey = new.o_orderkey",
                    "update_predicate": "new.change_ts > current.change_ts",
                    "delete_predicate": "new.recordmode = 'D'",
                    "insert_predicate": "new.recordmode <> 'D'",
                },
            }],
        }

    def output_digest(self, con) -> oracle.Digest:
        return oracle.digest(con, oracle.parquet_relation(self.output), oracle.CDC_COLUMNS)


class Curation(Workload):
    """The q31 curation chain (own copy, so edits to the query registry do
    not change the workload): datapipes, driver-side composition, probe jobs
    and Arrow-Python workers dominate, and io does almost nothing."""

    name = "curation"

    def prepare(self, con) -> None:
        self.documents = inputs.write_documents(self.input_dir, self.seed, CURATION_DOCS)
        self.expected = oracle.curation_expected(con, self.documents)

    def sizes(self) -> Dict[str, int]:
        return {"documents": CURATION_DOCS}

    def acon(self) -> dict:
        staged_text = (
            "concat(substring(text, 1, 60), chr(10), "
            f"'{oracle.CURATION_FOOTER}', chr(10), substring(text, 61, 100000))"
        )
        return {
            "input_specs": [
                {"spec_id": "docs", "data_format": "parquet", "location": self.documents}
            ],
            "transform_specs": [
                {
                    "spec_id": "bench",
                    "input_id": "docs",
                    "transformers": [
                        {"function": "expression_filter", "args": {"exp": "doc_id % 50 = 0"}}
                    ],
                },
                {
                    "spec_id": "curated",
                    "input_id": "docs",
                    "transformers": [
                        # the chain's only Arrow-Python stage (a pandas_udf);
                        # identity on the generated ASCII text
                        {"function": "text_unicode_normalize", "args": {"form": "NFKC"}},
                        {"function": "with_expressions",
                         "args": {"cols_and_exprs": {"text": staged_text}}},
                        {"function": "text_gopher_rules", "args": {
                            "min_words": 30,
                            "stopwords": oracle.CURATION_STOPWORDS,
                            "min_stopword_hits": 2,
                        }},
                        {"function": "expression_filter", "args": {"exp": "gopher_keep"}},
                        {"function": "text_line_dedup", "args": {}},
                        {"function": "persist", "args": {}},
                        {"function": "dedup_minhash_lsh", "args": {
                            "text_col": "text_deduped",
                            "num_hashes": 12,
                            "bands": 4,
                            "shingle_size": 3,
                        }},
                        {"function": "persist", "args": {}},
                        {"function": "text_decontaminate_with", "args": {
                            "benchmark_with": "bench",
                            "input_col": "text_deduped",
                            "ngram": 8,
                            "mode": "drop",
                        }},
                        {"function": "mixture_plan", "args": {
                            "group_col": "lang",
                            "weights": {"en": 50, "de": 30, "fr": 15, "xx": 5},
                            "budget_tokens": 1_000_000,
                            "token_col": "n_chars",
                            "max_epochs_ppm": 2_000_000,
                        }},
                        {"function": "column_selector", "args": {
                            "cols": {c: c for c, _ in oracle.CURATION_COLUMNS},
                        }},
                    ],
                },
            ],
            "output_specs": [{
                "spec_id": "plan",
                "input_id": "curated",
                "write_type": "overwrite",
                "data_format": "parquet",
                "location": self.output,
            }],
        }

    def output_digest(self, con) -> oracle.Digest:
        return oracle.digest(con, oracle.parquet_relation(self.output), oracle.CURATION_COLUMNS)


WORKLOADS = {w.name: w for w in (BatchEtl, CdcMergeStream, Curation)}


def check(workload: Workload, con) -> List[str]:
    """Problems with the last run's output; empty when it matches."""
    got = workload.output_digest(con)
    if got != workload.expected:
        return [f"{workload.name}: output (rows, checksum) {got} != expected {workload.expected}"]
    return []
