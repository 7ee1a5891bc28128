"""The benchmark's action and traced run, on a live local Spark session."""

from __future__ import annotations

import json
import sys
import urllib.request

import pytest

from perfbench import inputs, run, trace

PACKAGE = trace.PACKAGE


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    dirs = inputs.generate(run.ROOT, work, seed=7)
    spark = run._start_session(work, 2)
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    yield spark, dirs, QUERIES
    run._stop_jvm(spark)


def _sql_executions(spark) -> list[dict]:
    sc = spark.sparkContext
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/sql"
           "?details=true&planDescription=true&length=100000")
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def test_action_computes_every_output_column(env):
    """The timed action collects the result, so the executed plan computes
    ``fs2_bill_number_variants``'s bill-number ``variants`` column; a
    ``.count()`` action would prune that projection away."""
    spark, dirs, queries = env
    before = {e["id"] for e in _sql_executions(spark)}
    rec = run.Runner(queries, ["fs2_bill_number_variants"]).execute(
        spark, "fs2_bill_number_variants", dirs["warmup"])
    assert rec["error"] is None
    assert "variants" in rec["table"].column_names
    plans = [e["planDescription"] for e in _sql_executions(spark)
             if e["id"] not in before]
    final = [p.split("== Physical Plan ==")[-1] for p in plans]
    assert any("array_join" in p and "AS variants" in p for p in final), plans


def _bindings() -> dict[tuple[str, str], object]:
    """Every function-valued attribute of the engine's modules and classes."""
    import inspect

    out = {}
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PACKAGE):
            continue
        owners = [(modname, mod)] + [
            (f"{modname}.{n}", c) for n, c in vars(mod).items()
            if inspect.isclass(c) and c.__module__ == modname
        ]
        for where, owner in owners:
            for attr, val in vars(owner).items():
                if inspect.isfunction(val):
                    out[(where, attr)] = val
    return out


def test_traced_pass_leaves_no_wrappers(env):
    spark, dirs, queries = env
    before = _bindings()
    tracer = trace.Tracer()
    runner = run.Runner(queries, ["fs2_bill_number_variants"], tracer,
                        trace.SparkUI(spark.sparkContext))
    with trace.LayerPatch(tracer) as patch:
        assert patch.restored
        recs = runner.run_pass(spark, dirs["warmup"])
    assert recs[0]["error"] is None
    layers = {sp.layer for sp in tracer.spans}
    assert {"plans", "action", "tables", "functions", "session"} <= layers
    after = _bindings()
    assert after.keys() == before.keys()
    changed = [k for k in before if after[k] is not before[k]]
    assert changed == []
    assert trace.wrapped_attributes() == []
    trace.job_spans(tracer, recs, list(runner.ui.jobs.values()))
    m, per_query = trace.pass_metrics(tracer.spans, recs, runner.ui.stages,
                                      [], 2)
    assert m["tables.load_calls"] >= 1
    assert m["action.jobs"] >= 1
    assert per_query["fs2_bill_number_variants"]["action_jobs"] == m["action.jobs"]
