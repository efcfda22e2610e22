"""The event-log reducer on a tiny recorded log: three jobs of a real
Spark 4.1 run, rolled over two files, one job with a skipped stage."""

import os
import shutil

import pytest

from perfbench import trace

DATA = os.path.join(os.path.dirname(__file__), "data")
T0 = 1792238402.0  # epoch seconds just before the first job


def test_reduce_counts_jobs_stages_tasks_and_driver_time():
    log = trace.read_event_log(DATA)
    out = trace.reduce_jobs(log, [(T0, T0 + 5.0)])
    assert out["jobs"] == 3
    assert out["stages"] == 3  # stage 2 was skipped: not counted
    assert out["tasks"] == 6
    assert out["executor_run_ms"] == 251 + 404 + 833 + 881 + 923 + 937
    assert out["shuffle_write_bytes"] == 223821 + 5830 + 5882 + 5912 + 5891
    cpu = {0: 29442115, 1: 399937029, 3: 365739183 + 394841738 + 420321457 + 395111987}
    wait = (251 - cpu[0] / 1e6) + (404 - cpu[1] / 1e6) + (3574 - cpu[3] / 1e6)
    assert out["executor_wait_ms"] == pytest.approx(wait)
    # jobs cover 522 + 481 + 1001 ms of the 5000 ms window
    assert out["outside_jobs_ms"] == pytest.approx(5000 - 2004)


def test_reduce_attributes_jobs_by_submission_time():
    log = trace.read_event_log(DATA)
    only_last = trace.reduce_jobs(log, [(T0 + 3.7, T0 + 4.8)])
    assert only_last["jobs"] == 1 and only_last["tasks"] == 4
    assert trace.reduce_jobs(log, [(T0 + 10, T0 + 11)])["jobs"] == 0


def test_event_files_reads_rolled_files_in_order_and_plain_logs(tmp_path):
    rolled = tmp_path / "eventlog_v2_local-0"
    shutil.copytree(os.path.join(DATA, "eventlog_v2_local-0"), rolled)
    # a tenth roll must sort after the second, not between 1 and 2
    os.rename(rolled / "events_2_local-0", rolled / "events_10_local-0")
    files = trace.event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-0",
        "events_10_local-0",
    ]
    plain = tmp_path / "local-1"
    plain.write_text((rolled / "events_1_local-0").read_text())
    assert str(plain) in trace.event_files(str(tmp_path))


def test_tracer_nests_spans_per_thread():
    t = trace.Tracer()
    with t.span("outer", "q1"):
        with t.span("inner", "q1"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.trace_id) == ("inner", "outer", "q1")
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end
