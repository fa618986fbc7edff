"""Record the tiny Spark event log the parser test reads.

    python3 perfbench/tests/record_eventlog.py

Runs three small jobs on ``local[2]`` with the uncompressed event log on:
a Python ``mapInPandas`` + group-by under job group ``span-0``, a
filtered count under ``span-1``, and a count from a second thread with
no job group. Keeps only the listener events the parser reads.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog.jsonl")
KEEP = ("JobStart", "StageSubmitted", "TaskEnd", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")
BULKY = ("physicalPlanDescription", "modifiedConfigs", "Stage Infos")
PROPERTIES = ("spark.jobGroup.id", "spark.sql.execution.id")  # the ones the parser reads


def main() -> None:
    with tempfile.TemporaryDirectory() as log_dir:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.sql.warehouse.dir", f"{log_dir}/warehouse")
            .getOrCreate()
        )
        sc = spark.sparkContext
        df = spark.range(0, 1000, numPartitions=2)

        def double(batches):
            for b in batches:
                yield b.assign(y=b.id * 2)

        sc.setJobGroup("span-0", "python")
        (df.mapInPandas(double, "id long, y long").groupBy((F.col("id") % 7).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        sc.setJobGroup("span-1", "filter")
        df.filter("id % 3 = 0").count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        worker = threading.Thread(target=lambda: spark.range(10).count())
        worker.start()
        worker.join()
        spark.stop()
        with open(OUT, "w") as out:
            for fn in sorted(glob.glob(f"{log_dir}/*/events_*")):
                with open(fn) as f:
                    for line in f:
                        e = json.loads(line)
                        if not e["Event"].endswith(KEEP):
                            continue
                        e = {k: v for k, v in e.items() if k not in BULKY}
                        if "Properties" in e:
                            e["Properties"] = {
                                k: v for k, v in e["Properties"].items() if k in PROPERTIES
                            }
                        out.write(json.dumps(e) + "\n")


if __name__ == "__main__":
    main()
