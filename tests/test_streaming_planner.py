"""Catch-up planner: lag -> daily/hourly/minute batch plan
(reference updateLFromWeb, osmc/osmc.c:451-492)."""

import pytest

from osmgraft.streaming import catchup_plan, files_per_trigger_for_plan


def _consume(plan):
    mins = {"daily": 1440, "hourly": 60, "minute": 1}
    return sum(n * mins[g] for g, n in plan)


def test_up_to_date_within_minute_slowness():
    for lag in range(0, 6):  # lag/MINUTE > 5 is strict
        assert catchup_plan(lag) == []


def test_minutes_only():
    assert catchup_plan(6) == [("minute", 1)]
    assert catchup_plan(59) == [("minute", 54)]


def test_hour_boundary_is_strict():
    # 60..119 minutes: lag//60 == 1, not > HOUR_SLOWNESS(1) -> minutes only
    assert catchup_plan(60) == [("minute", 55)]
    assert catchup_plan(119) == [("minute", 114)]
    # 120+: one hourly batch appears
    assert catchup_plan(120) == [("hourly", 1), ("minute", 55)]


def test_day_boundary_is_strict():
    assert ("daily", 1) not in catchup_plan(2 * 1440 - 1)
    plan = catchup_plan(2 * 1440)
    assert plan[0] == ("daily", 1)


def test_plan_consumes_lag_minus_slowness_margins():
    for lag in [6, 61, 120, 1441, 2880, 10_000, 99_999]:
        plan = catchup_plan(lag)
        # what the plan applies + the slowness hold-back == total lag
        consumed = _consume(plan)
        assert consumed <= lag
        # residual is bounded by the margins: 1 day + 1 hour + 5 min max
        assert lag - consumed <= 1440 + 60 + 5


def test_ordering_coarsest_first():
    plan = catchup_plan(5 * 1440 + 3 * 60 + 17)
    assert [g for g, _ in plan] == ["daily", "hourly", "minute"]


def test_files_per_trigger_ladder():
    assert files_per_trigger_for_plan(catchup_plan(3 * 1440)) == 24
    assert files_per_trigger_for_plan(catchup_plan(3 * 60)) == 4
    assert files_per_trigger_for_plan(catchup_plan(30)) == 1
    assert files_per_trigger_for_plan([]) == 1


def test_next_change_file_name_minute_rollover():
    from osmgraft.streaming import next_change_file_name

    # 2023-12-31T23:59:30Z -> year rollover inside the +1-minute bucket
    ts = 1704067170
    name, nxt = next_change_file_name(ts, "minute")
    assert name == "minute/202312312359-202401010000.osc.gz"
    assert nxt == 1704067200  # 2024-01-01T00:00:00Z (seconds zeroed)


def test_next_change_file_name_hourly_leap_day():
    from osmgraft.streaming import next_change_file_name

    # 2024-02-28T23:30:00Z -> +1h lands on the leap day
    ts = 1709163000
    name, nxt = next_change_file_name(ts, "hourly")
    assert name == "hourly/2024022823-2024022900.osc.gz"
    assert nxt == 1709164800  # 2024-02-29T00:00:00Z


def test_next_change_file_name_daily_truncates():
    from osmgraft.streaming import next_change_file_name

    ts = 1709123696  # 2024-02-28T12:34:56Z
    name, nxt = next_change_file_name(ts, "daily")
    assert name == "daily/20240228-20240229.osc.gz"
    assert nxt == 1709164800  # midnight of the next day

    # chaining: applying the returned timestamp walks aligned buckets
    name2, nxt2 = next_change_file_name(nxt, "daily")
    assert name2 == "daily/20240229-20240301.osc.gz"
    assert nxt2 - nxt == 86400


def test_next_change_file_name_rejects_unknown_period():
    import pytest as _pytest

    from osmgraft.streaming import next_change_file_name

    with _pytest.raises(ValueError):
        next_change_file_name(0, "weekly")


@pytest.mark.spark
def test_tumbling_counts_watermark_on_streaming_input_only(spark, sf_dir):
    """A streaming events frame gets the event-time watermark, a batch
    one does not; only plans are built, no query is started."""
    from osmgraft.streaming import tumbling_event_counts

    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)

    def plan(df):
        return df._jdf.queryExecution().logical().toString()

    s, b = tumbling_event_counts(stream), tumbling_event_counts(batch)
    assert stream.isStreaming and not batch.isStreaming
    assert "EventTimeWatermark" in plan(s)
    assert "EventTimeWatermark" not in plan(b)
    assert s.schema["window_start"].dataType == b.schema["window_start"].dataType
    assert not spark.streams.active
