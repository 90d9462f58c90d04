"""Re-record the small event log that test_eventlog.py reads.

    python3 perfbench/tests/record_eventlog.py

Generates sf0.001-shaped tables (seed 1) under perfbench/out/, runs two
queries through the tracer (each build and each noop write under its
own job group) with the event log on, and leaves the log in
perfbench/tests/data/eventlog/ together with the expected per-group
job counts taken from Spark's status tracker. The committed log keeps
only job, stage and task events, stripped of properties, call sites and
accumulators.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

TESTS = os.path.dirname(os.path.abspath(__file__))
HERE = os.path.dirname(TESTS)
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402

QUERIES_RECORDED = ("revenue_by_nation", "minhash_lsh_neardup")


KEEP_EVENTS = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskStart",
    "SparkListenerTaskEnd",
}


def _trim_stage(info: dict) -> None:
    for key in ("Details", "RDD Info", "Accumulables"):
        info.pop(key, None)


def trim(src: str, dst: str) -> None:
    """Keep the job, stage and task events, without the fields that only
    describe the recording machine (properties, call sites, accumulators)."""
    with open(src) as fin, open(dst, "w") as fout:
        for line in fin:
            ev = json.loads(line)
            if ev["Event"] not in KEEP_EVENTS:
                continue
            if "Properties" in ev:
                group = ev["Properties"].get("spark.jobGroup.id")
                ev["Properties"] = {"spark.jobGroup.id": group} if group else {}
            for info in [ev.get("Stage Info")] + ev.get("Stage Infos", []):
                if info:
                    _trim_stage(info)
            if "Task Info" in ev:
                ev["Task Info"].pop("Accumulables", None)
            ev.pop("Task Executor Metrics", None)
            fout.write(json.dumps(ev) + "\n")


def main() -> int:
    dest = os.path.join(TESTS, "data", "eventlog")
    raw = os.path.join(run.OUT, "record-eventlog")
    data = os.path.join(run.OUT, "record-data")
    for d in (dest, raw, data):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(raw)
    sys.path.insert(0, run.ROOT)
    run.generate(data, 0.001, 1)

    tracer = spans.Tracer("record")
    spans.install(tracer)
    from dist_keras_spark import session
    from dist_keras_spark.plans import QUERIES

    spark = session.get_spark("perfbench-record", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": raw,
        "spark.eventLog.compress": "false",
    })
    tracer.sc = spark.sparkContext
    for q in QUERIES_RECORDED:
        with tracer.span("query", rep=0, client=0, query=q):
            with tracer.span("plans.build"):
                df = QUERIES[q](spark, data)
            with tracer.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
    time.sleep(2)  # let the listener bus deliver the last job events
    st = spark.sparkContext.statusTracker()
    expected = {
        s["group"]: {"name": s["name"], "query": s.get("query"),
                     "jobs": len(st.getJobIdsForGroup(s["group"]))}
        for s in tracer.spans if s.get("query")
    }
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    spark.stop()
    run.stop_jvm(jvm_pid)

    (app,) = os.listdir(raw)
    os.makedirs(os.path.join(dest, app))
    for name in os.listdir(os.path.join(raw, app)):
        if name.startswith("events_"):
            trim(os.path.join(raw, app, name), os.path.join(dest, app, name))
    with open(os.path.join(TESTS, "data", "eventlog_expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(raw)
    shutil.rmtree(data)
    return 0


if __name__ == "__main__":
    sys.exit(main())
