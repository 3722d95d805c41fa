"""Span self time, percentile helpers and the event-log parser."""

import json
import os
import subprocess
import sys

import pytest

from spans import Span, Tracer, event_log_files, parse_event_log, \
    self_times, tail

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 5.0, parent=0),    # overlaps a: union 1..5
        Span(3, "c", 8.0, 12.0, parent=0),   # clipped to the parent: 8..10
        Span(4, "a.child", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parents_only_when_enabled():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner", k=1) as s:
            pass
    assert [(x.name, x.parent) for x in t.spans] == [("outer", None),
                                                    ("inner", 0)]
    assert s.duration >= 0 and t.to_json()[1]["attrs"] == {"k": 1}
    assert len({d["run_id"] for d in t.to_json()}) == 1
    off = Tracer(False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s.end >= s.start


def test_tail_leaves_ten_samples_beyond():
    assert tail(list(range(10))) is None
    pct, value = tail(list(range(1, 41)))   # 40 samples: 10 beyond rank 30
    assert (pct, value) == (75.0, 30)


_TINY_QUERY = """
import sys
sys.path[:0] = [{root!r}, {here!r}]
import run
run._configure_env({work!r}, 2, traced=True)
from data_pipeline_eng_project_1_spark import get_spark
spark = get_spark("eventlog-test", cores=2)
import pyarrow as pa, pyarrow.parquet as pq
pq.write_table(pa.table({{"id": list(range(1000))}}), {work!r} + "/t.parquet")
spark.sparkContext.setJobGroup("tiny|exec", "tiny")
spark.read.parquet({work!r} + "/t.parquet").repartition(4) \\
    .selectExpr("id % 7 AS k").groupBy("k").count() \\
    .write.format("noop").mode("overwrite").save()
spark.sparkContext.setJobGroup("tiny|write", "tiny")
spark.range(7).write.parquet({work!r} + "/out")
tracker = spark.sparkContext.statusTracker()
print(spark.sparkContext.applicationId)
print(sorted(tracker.getJobIdsForGroup("tiny|exec")))
print(sorted(tracker.getJobIdsForGroup("tiny|write")))
run._stop_jvm(spark)
"""


def test_event_log_parser_on_one_tiny_query(tmp_path):
    work = str(tmp_path)
    code = _TINY_QUERY.format(root=ROOT, here=HERE, work=work)
    res = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         stdout=subprocess.PIPE, text=True, timeout=170,
                         check=True)
    app_id, exec_ids, write_ids = res.stdout.strip().splitlines()[-3:]
    job_ids, write_ids = json.loads(exec_ids), json.loads(write_ids)
    log = parse_event_log(
        event_log_files(os.path.join(work, "eventlog"), app_id))
    assert sorted(log.jobs_in_groups(["tiny|exec"])) == job_ids
    t = log.totals(job_ids)
    assert t["jobs"] == len(job_ids) >= 1
    assert t["stages"] >= 2                 # map side + reduce side
    assert t["tasks"] >= 4                  # one per input partition, at least
    assert t["shuffle_write_bytes"] > 0
    assert t["task_run_s"] >= 0
    assert t["records_read"] == 1000        # the source rows, read once
    assert t["records_written"] == 0        # a noop write writes nothing
    assert log.totals(write_ids)["records_written"] == 7
    assert log.jobs_between(0, float("inf")) == sorted(log.jobs)
    assert event_log_files(os.path.join(work, "eventlog"), "no-such-app") \
        == []
