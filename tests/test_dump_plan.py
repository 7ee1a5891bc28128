"""tools/dump_plan.py: one plan-dump tool for every round.

``python tools/dump_plan.py ROUND before|after NAME...`` writes
``plans/<ROUND>/<name>_<tag>.txt``; bad arguments exit with the usage
text before any Spark work starts.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def dump_plan(monkeypatch, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "dump_plan", os.path.join(REPO, "tools", "dump_plan.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "PLANS_DIR", str(tmp_path))
    return mod


@pytest.mark.parametrize(
    "argv",
    [
        ["r99", "during", "p4_filter_project"],  # tag must be before|after
        ["r99", "after"],  # no query names
    ],
)
def test_bad_arguments_exit_with_usage(dump_plan, monkeypatch, tmp_path, argv):
    monkeypatch.setattr(sys, "argv", ["dump_plan.py", *argv])
    with pytest.raises(SystemExit) as exc:
        dump_plan.main()
    assert "Usage:" in str(exc.value.code)
    assert not os.listdir(tmp_path)


def test_writes_round_dir_per_tag(
    spark, sf_dir, dump_plan, monkeypatch, tmp_path, capsys
):
    argv = ["r99", "after", "p4_filter_project", "no_such_query"]
    monkeypatch.setattr(dump_plan, "SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["dump_plan.py", *argv])
    dump_plan.main()
    assert os.listdir(tmp_path) == ["r99"]
    assert os.listdir(tmp_path / "r99") == ["p4_filter_project_after.txt"]
    text = (tmp_path / "r99" / "p4_filter_project_after.txt").read_text()
    assert text.startswith("# p4_filter_project — after")
    assert "== Physical Plan ==" in text
    assert "unknown query 'no_such_query'" in capsys.readouterr().out
