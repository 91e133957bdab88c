from __future__ import annotations

from conftest import new_session
from eventlog import covered_s, read_ledger
from spans import Tracer


def test_covered_s_unions_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered_s([], 0, 1) == 0


def test_ledger_charges_jobs_to_their_span(tmp_path):
    spark = new_session(str(tmp_path))
    tracer = Tracer("t", enabled=True)
    tracer.sc = spark.sparkContext
    try:
        with tracer.span("agg") as agg:
            spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tracer.span("outer") as outer:
            with tracer.span("inner") as inner:
                spark.range(10).collect()
            spark.range(20).count()
        spark.range(5).collect()  # after the spans: no group
    finally:
        spark.stop()

    ledger = read_ledger(str(tmp_path))
    a, i, o = ledger[agg.id], ledger[inner.id], ledger[outer.id]
    assert a.jobs >= 1 and a.stages >= 2 and a.tasks >= 2  # a shuffle: map + reduce stage
    assert a.executor_ms >= 0 and a.shuffle_write_bytes > 0
    assert i.jobs == 1 and i.stages >= 1 and i.tasks >= 1
    assert o.jobs >= 1  # the count after the inner span closed goes to the outer one
    assert ledger[""].jobs >= 1
    for span, cost in ((agg, a), (inner, i), (outer, o)):
        for s, e in cost.job_intervals:
            assert span.start - 0.05 <= s <= e <= span.end + 0.05
