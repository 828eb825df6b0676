"""Tracer arithmetic, and job attribution against a real local session.

    python3 -m pytest perfbench/tests -q
"""

import pytest

from perfbench.tracer import (
    Span,
    Tracer,
    driver_gap,
    parse_duration,
    percentile,
    samples_beyond,
    self_times,
    union_length,
)


def test_union_counts_overlaps_once_and_clips():
    stages = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert union_length(stages) == pytest.approx(4.0)
    assert union_length(stages, lo=1.5, hi=5.5) == pytest.approx(2.0)
    assert union_length([(0.0, 1.0), (0.2, 0.5)]) == pytest.approx(1.0)
    assert union_length([]) == 0.0


def test_driver_gap_is_wall_minus_stage_union():
    # a 10 s call with stages covering 1-4 and 3-6 (union 5 s) and one
    # stage that started before the call (only 9-10 counts)
    stages = [(1.0, 4.0), (3.0, 6.0), (8.0, 10.0)]
    assert driver_gap(0.0, 10.0, stages) == pytest.approx(3.0)
    assert driver_gap(9.0, 10.0, stages) == pytest.approx(0.0)


def test_p90_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    xs = list(range(1, 101))
    assert percentile(xs, 0.9, min_beyond=10) == pytest.approx(90.1)
    with pytest.raises(ValueError):
        percentile(xs[:99], 0.9, min_beyond=10)
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", None, start=0.0, end=10.0),
        Span("a", 0, start=1.0, end=4.0),
        Span("b", 0, start=3.0, end=6.0),  # overlaps a: 1-6 is covered once
        Span("c", 2, start=3.5, end=4.0),  # grandchild: not op's child
    ]
    assert self_times(spans) == pytest.approx([5.0, 3.0, 2.5, 0.5])


def test_parse_sql_timing_metric():
    assert parse_duration("5.5 s") == pytest.approx(5.5)
    assert parse_duration("total (min, med, max (stageId: taskId))\n730 ms (1 ms, 2 ms)") == pytest.approx(0.73)
    assert parse_duration("total (min, med, max (stageId: taskId))\n1.5 min (1 s)") == pytest.approx(90.0)
    assert parse_duration("") == 0.0


def test_jobs_are_attributed_to_the_call_that_ran_them(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    tracer = Tracer(spark)
    spark.range(10).count()  # a job outside any span
    with tracer.span("op"):
        with tracer.site("toy.two_jobs") as h:
            df = spark.range(100_000).select(plus_one("id").alias("x"))
            h.built()
            # two result jobs, no shuffle (a shuffle would add map-stage jobs)
            df.filter("x % 1000 = 0").collect()
            df.filter("x % 999 = 0").collect()
        with tracer.site("toy.no_jobs"):
            pass
    spark.range(10).count()

    stats = tracer.sites["toy.two_jobs"]
    assert stats["calls"] == 1
    assert stats["jobs"] == 2
    assert stats["tasks"] >= 2
    assert stats["python_s"] > 0  # the pandas UDF ran in Python workers
    assert 0 <= stats["driver_gap_s"] <= stats["wall_s"]
    assert stats["build_s"] <= stats["wall_s"]
    assert tracer.sites["toy.no_jobs"]["jobs"] == 0
    metrics = tracer.site_metrics(["toy.two_jobs", "toy.unused"])
    assert metrics["toy.two_jobs.jobs"] == 2
    assert metrics["toy.unused.calls"] == 0
    op, site = tracer.dump()[:2]
    assert site["parent"] == 0 and op["self_s"] <= op["end"] - op["start"]
