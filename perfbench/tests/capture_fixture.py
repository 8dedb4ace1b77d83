"""Re-capture tests/fixtures/eventlog_small.jsonl from a real local session.

    python3 perfbench/tests/capture_fixture.py

Two job groups on a 2-slot session: ``layer.a`` runs a shuffle (2 map
tasks, 2 reduce tasks) and ``layer.b`` a job whose second task fails;
one job runs outside any group. Only the events the rollup reads are
kept, verbatim.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

KEEP = ("SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from eventlog import log_files, read_events

    work = Path(tempfile.mkdtemp(prefix="evcap", dir=HERE))
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.adaptive.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir", work.as_uri())
                 .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("layer.a", "layer.a")
        spark.range(0, 1000, 1, 2).groupBy(F.col("id") % 7).count().collect()
        sc.setJobGroup("layer.b", "layer.b")
        try:
            spark.range(0, 10, 1, 2).select(
                F.assert_true(F.col("id") < 5)).collect()
        except Exception:
            pass
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, 1, 1).count()
        spark.stop()
        lines = [ln for f in log_files(work) for ln in f.read_text().splitlines()
                 if any(f'"Event":"{k}"' in ln for k in KEEP)]
        assert len(lines) == len([e for f in log_files(work) for e in read_events(f)
                                  if e["Event"] in KEEP])
        (HERE / "fixtures" / "eventlog_small.jsonl").write_text("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
