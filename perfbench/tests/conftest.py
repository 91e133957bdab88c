from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


def new_session(eventlog_dir: str | None = None):
    """A small local session; with ``eventlog_dir`` it writes uncompressed
    event logs there, as the benchmark's traced run does."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if eventlog_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file:" + eventlog_dir)
        )
    return b.getOrCreate()
