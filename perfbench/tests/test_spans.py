import os
import time

import gen
import engine
import streamlog
from spans import BatchListener, Tracer, self_times


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},
    ]
    st = self_times(spans)
    assert st["a"] == 10 - 5 - 1
    assert st["b"] == 6


def test_listener_batch_spans_cover_the_stream_run(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for f in range(6):
        text, _ = gen.envelope_file(3, f, 300)
        (in_dir / f"part-{f}.jsonl").write_text(text)
        os.utime(in_dir / f"part-{f}.jsonl", (1e9 + f, 1e9 + f))
    listener = BatchListener()
    spark.streams.addListener(listener)
    tracer = Tracer()
    try:
        with tracer.span("streaming.run_pipeline") as parent:
            t0 = time.time()
            src = engine.read_envelope_file_stream(spark, str(in_dir), 2)
            ckpt = str(tmp_path / "ckpt")
            q = engine.run_pipeline(spark, src, [str(tmp_path / "sink")], ckpt, str(tmp_path / "dl"))
            q.awaitTermination()
        deadline = time.time() + 10
        while len(listener.for_run(str(q.runId))) < 3 and time.time() < deadline:
            time.sleep(0.1)  # progress events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    listener.add_spans(tracer, str(q.runId), parent)
    batches = [s for s in tracer.spans if s["name"] == "stream.batch"]
    commits = streamlog.commit_times(ckpt)
    assert len(batches) == len(commits) == 3
    assert set(streamlog.file_batches(ckpt).values()) == set(commits)
    # back-to-back triggers: together they span the run up to the last commit
    first, last = min(s["start"] for s in batches), max(commits.values())
    busy = sum(s["end"] - s["start"] for s in batches)
    assert t0 - 1 <= first and busy >= 0.8 * (last - first)
    for s in batches:
        phases = [c for c in tracer.spans if c["parent"] == s["id"]]
        assert phases and max(c["end"] for c in phases) <= s["end"] + 0.05
