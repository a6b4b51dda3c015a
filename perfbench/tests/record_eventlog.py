"""Record the small Spark event log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny jobs on local[2] with the event log on: group `udf`
(parquet scan of 100 rows -> Arrow pandas UDF -> shuffle aggregate),
group `scan` (parquet scan + filter + count) and one job with no group.
Keeps only the event kinds the parser reads and drops the bulky fields
it ignores, then writes perfbench/tests/data/eventlog.jsonl.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskStart",
    "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
}
DROP = ("Task Executor Metrics", "physicalPlanDescription", "details", "modifiedConfigs",
        "Stage Infos")
STAGE_KEEP = ("Stage ID", "Stage Attempt ID", "Submission Time", "Number of Tasks")


def main() -> None:
    tmp = tempfile.mkdtemp()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{tmp} --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    sc = spark.sparkContext
    data = os.path.join(tmp, "in")
    spark.range(100).withColumn("t", F.col("id").cast("string")).write.parquet(data)

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    sc.setJobGroup("udf", "udf")
    (spark.read.parquet(data).withColumn("p", plus_one("id"))
     .groupBy((F.col("p") % 3).alias("k")).count().collect())
    sc.setJobGroup("scan", "scan")
    spark.read.parquet(data).filter("id < 10").count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(5).count()
    spark.stop()

    out = []
    (log,) = [p for p in glob.glob(os.path.join(tmp, "*")) if os.path.isfile(p)]
    with open(log) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"].rsplit(".", 1)[-1] not in KEEP:
                continue
            for k in DROP:
                e.pop(k, None)
            if "Stage Info" in e:
                e["Stage Info"] = {k: e["Stage Info"][k] for k in STAGE_KEEP
                                   if k in e["Stage Info"]}
            if "Properties" in e:
                e["Properties"] = {p: v for p, v in e["Properties"].items()
                                   if p in ("spark.jobGroup.id", "spark.sql.execution.id")}
            out.append(json.dumps(e, sort_keys=True))
    with open(os.path.join(HERE, "data", "eventlog.jsonl"), "w") as f:
        f.write("\n".join(out) + "\n")
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
