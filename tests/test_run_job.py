"""scripts/run_job.py argument checks (no JVM): a bad flag combination or
value must exit before any SparkSession is created."""

import importlib.util
import os
import sys

import pytest
from pyspark.sql import SparkSession

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "run_job.py")


class _NoSession:
    def __getattr__(self, name):
        raise AssertionError("a SparkSession was requested before argument validation")


def _load_main():
    spec = importlib.util.spec_from_file_location("run_job", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


@pytest.mark.parametrize("extra", [
    ["--input", "in_dir", "--stage-to", "staged_dir"],
    ["--input-table", "db.transcripts"],
])
def test_streaming_rejects_batch_only_flags(monkeypatch, extra):
    monkeypatch.setattr(SparkSession, "builder", _NoSession())
    monkeypatch.setattr(sys, "argv", ["run_job.py", "--output", "out", "--streaming", "true", *extra])
    with pytest.raises(SystemExit, match="batch-only"):
        _load_main()()


@pytest.mark.parametrize("flag", ["--streaming", "--dedup-payloads", "--quality-filter"])
@pytest.mark.parametrize("value", ["yes", "1"])
def test_boolean_flags_accept_only_true_or_false(monkeypatch, capsys, flag, value):
    monkeypatch.setattr(SparkSession, "builder", _NoSession())
    monkeypatch.setattr(sys, "argv", ["run_job.py", "--input", "in", "--output", "out", flag, value])
    with pytest.raises(SystemExit) as exc:
        _load_main()()
    assert exc.value.code == 2  # argparse usage error
    assert "invalid choice" in capsys.readouterr().err
