"""Span arithmetic and job attribution of the benchmark's traced run."""

from __future__ import annotations

import pytest

from perfbench import trace
from perfbench.trace import Span, Tracer


def _job(jid, sub, end, stages=(), **counts):
    def stamp(t):
        return f"2026-01-01T00:00:{t:06.3f}GMT"

    return {
        "jobId": jid, "status": "SUCCEEDED",
        "submissionTime": stamp(sub), "completionTime": stamp(end),
        "stageIds": list(stages),
        "numCompletedStages": counts.get("stages", len(stages)),
        "numFailedStages": 0, "numSkippedStages": counts.get("skipped", 0),
        "numCompletedTasks": counts.get("tasks", 1), "numFailedTasks": 0,
    }


T0 = trace.rest_time("2026-01-01T00:00:00.000GMT")


def test_self_time_nested_and_overlapping():
    spans = [
        Span(0, "root", "plans", 0.0, 10.0, None, 0),
        Span(1, "a", "operators.graphs", 1.0, 4.0, 0, 0),
        Span(2, "b", "spark", 3.0, 6.0, 0, 0),      # overlaps sibling a
        Span(3, "a.inner", "functions", 2.0, 3.0, 1, 0),
        Span(4, "late", "spark", 9.0, 12.0, 0, 0),  # outlives its parent
    ]
    own = trace.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(3.0)


def test_union_length_merges_overlaps_and_touching():
    assert trace.union_length([(0, 2), (1, 3), (3, 4), (6, 7)]) == 5
    assert trace.union_length([]) == 0


def test_jobs_attributed_by_time_window():
    tr = Tracer()
    queries = []
    for qid, (lo, mid, hi) in enumerate([(0.0, 4.0, 5.0), (6.0, 8.0, 9.0)]):
        tr.query = qid
        fn = tr.add("q", "plans", T0 + lo, T0 + mid, None, qid)
        op = tr.add("op", "operators.graphs", T0 + lo + 0.5, T0 + mid - 0.5,
                    fn.id, qid)
        act = tr.add("q", "action", T0 + mid, T0 + hi, None, qid)
        queries.append({"qid": qid, "name": f"q{qid}", "fn": (fn.start, fn.end),
                        "action": (act.start, act.end), "result_bytes": 10})
    jobs = [
        _job(1, 1.0, 2.0, stages=[1]),   # q0, inside the operator: eager
        _job(2, 4.5, 4.8, stages=[2]),   # q0 action
        _job(3, 5.5, 5.7),               # between queries: nobody's
        _job(4, 6.2, 6.4, stages=[3]),   # q1, in the function, not the op
        _job(5, 8.5, 8.9, stages=[4]),   # q1 action
    ]
    trace.job_spans(tr, queries, jobs)
    js = {sp.attrs["job"]["jobId"]: sp for sp in tr.spans if sp.layer == "spark"}
    assert sorted(js) == [1, 2, 4, 5]
    assert (js[1].query, js[1].attrs["phase"]) == (0, "eager")
    assert tr.spans[js[1].parent].layer == "operators.graphs"
    assert (js[2].query, js[2].attrs["phase"]) == (0, "action")
    assert (js[4].query, js[4].attrs["phase"]) == (1, "eager")
    assert tr.spans[js[4].parent].layer == "plans"
    assert (js[5].query, js[5].attrs["phase"]) == (1, "action")

    stages = {sid: [{"status": "COMPLETE", "executorRunTime": 1000,
                     "executorCpuTime": 5e8, "jvmGcTime": 0,
                     "shuffleWriteBytes": 7, "shuffleReadBytes": 7,
                     "diskBytesSpilled": 0, "inputBytes": 3}]
              for sid in (1, 2, 3, 4)}
    m, per_query = trace.pass_metrics(tr.spans, queries, stages, [], 4)
    assert m["plans.eager_jobs"] == 2
    assert m["action.jobs"] == 2
    assert m["plans.eager_s"] == pytest.approx(1.0 + 0.2)
    assert m["plans.build_s"] == pytest.approx(4.0 + 2.0 - 1.2)
    assert m["spark.eager.executor_run_s"] == pytest.approx(2.0)
    assert m["operators.graphs.calls"] == 2
    # the operator span [0.5, 3.5] loses job 1's second to its child
    assert m["operators.graphs.s"] == pytest.approx(2.0 + 1.0)
    assert per_query["q1"]["eager_jobs"] == 1
    assert set(m) == set(trace.LAYER_METRICS)


def test_streaming_batches_attributed_and_summarised():
    queries = [{"qid": 0, "name": "q", "fn": (0.0, 5.0), "action": (5.0, 6.0),
                "result_bytes": 0}]
    batches = [
        {"run": "r", "batch": 0, "ts": 1.0, "rows": 10, "ms": 100,
         "state_rows": 4, "commit_ms": 3, "mem_bytes": 50},
        {"run": "r", "batch": 1, "ts": 2.0, "rows": 0, "ms": 300,
         "state_rows": 2, "commit_ms": 5, "mem_bytes": 80},
        {"run": "x", "batch": 0, "ts": 9.0, "rows": 1, "ms": 1,
         "state_rows": 1, "commit_ms": 1, "mem_bytes": 1},
    ]
    m, _ = trace.pass_metrics([], queries, {}, batches, 4)
    assert m["streaming.batches"] == 2
    assert m["streaming.empty_batch_frac"] == 0.5
    assert m["streaming.batch_ms_p50"] == 200
    assert m["streaming.state_rows"] == 2
    assert m["streaming.state_commit_ms"] == 8
    assert m["streaming.state_mem_bytes"] == 80


def test_layer_patch_restores_every_attribute():
    import dissertation_data_pipeline_spark.plans.registry as registry
    from dissertation_data_pipeline_spark import session, tables
    from dissertation_data_pipeline_spark.operators import dedup

    before = {
        (registry, "load_table"): registry.load_table,
        (registry, "dedup_priority"): registry.dedup_priority,
        (tables, "load_table"): tables.load_table,
        (session, "drop_blocks"): session.drop_blocks,
        (dedup, "dedup_priority"): dedup.dedup_priority,
    }
    tr = Tracer()
    with pytest.raises(RuntimeError):
        with trace.LayerPatch(tr):
            for (mod, attr), orig in before.items():
                now = getattr(mod, attr)
                assert now is not orig
                assert now.__perfbench_original__ is orig
            # an alias imported into a plan module and the defining
            # module's own name reach the same wrapper
            assert registry.load_table is tables.load_table
            raise RuntimeError("leave the patch by an exception")
    for (mod, attr), orig in before.items():
        assert getattr(mod, attr) is orig
    assert trace.wrapped_attributes() == []
