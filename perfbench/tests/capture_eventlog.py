"""Regenerate ``data/eventlog.jsonl``, the event-log fixture of test_eventlog.

    python3 perfbench/tests/capture_eventlog.py

Runs three tiny jobs under known job groups (a pandas_udf written to
parquet, a count, an untagged count), then keeps only the event kinds and
fields the reader uses.
"""

import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent.parent))

KEEP = (
    "SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates",
)


def _slim(ev: dict) -> dict:
    ev.pop("physicalPlanDescription", None)
    ev.pop("Stage Infos", None)
    ev.pop("modifiedConfigs", None)
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items()
                            if k in ("spark.jobGroup.id", "spark.sql.execution.id")}
    return ev


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    with tempfile.TemporaryDirectory() as tmp:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", f"file://{tmp}")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        sc = spark.sparkContext

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setLocalProperty("spark.jobGroup.id", "perfbench:io_write")
        spark.range(100).select(plus_one("id").alias("x")).coalesce(1) \
            .write.mode("overwrite").parquet(f"{tmp}/out")
        sc.setLocalProperty("spark.jobGroup.id", "perfbench:transformers:t/fn")
        spark.range(10).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(5).count()
        spark.stop()
        log = next(p for p in Path(tmp).iterdir() if p.is_file())
        with open(log) as src, open(HERE / "data" / "eventlog.jsonl", "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev["Event"].rsplit(".", 1)[-1] in KEEP:
                    dst.write(json.dumps(_slim(ev)) + "\n")


if __name__ == "__main__":
    main()
