"""The sharded suite runner (run_suite.py): shard sizing from the
machine, and a shard killed by a signal reported as lost rather than
folded into a clean closing line. The shards here are fake processes;
no Spark session starts."""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "run_suite", os.path.join(_ROOT, "run_suite.py")
)
run_suite = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run_suite)


def test_plan_shards_fits_cores_and_memory():
    assert run_suite.plan_shards(4, 14.5, "2g") == 2
    assert run_suite.plan_shards(4, 9.0, "2g") == 1
    # no floor above what the machine holds, but never below one shard
    assert run_suite.plan_shards(4, 3.0, "8g") == 1
    assert run_suite.plan_shards(64, 500.0, "2g") == run_suite.MAX_SHARDS
    assert run_suite.plan_shards(32, 40.0, "4g") == 4
    assert run_suite.heap_gb("1536m") == 1.5


def _fake(script: str) -> list[str]:
    return [sys.executable, "-c", script]


def test_killed_shard_is_reported_lost(tmp_path, monkeypatch, capsys):
    calls = []

    def shard_cmd(shard, extra):
        calls.append(shard)
        if len(calls) == 1:  # dies by SIGKILL after 2 of its 5 tests
            first = "tests/" + os.path.basename(shard[0])
            return _fake(
                "import os, signal\n"
                "print('collected 5 items')\n"
                f"print({first!r} + ' ..')\n"
                "os.kill(os.getpid(), signal.SIGKILL)\n"
            )
        return _fake(
            "print('collected 3 items')\n"
            "print('tests/test_b.py ...   [100%]')\n"
            "print('===== 3 passed in 0.10s =====')\n"
        )

    monkeypatch.setattr(run_suite, "shard_cmd", shard_cmd)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rc = run_suite.main(["run_suite.py", "--shards", "2"])
    out = capsys.readouterr().out

    assert rc == 1
    assert len(calls) == 2
    first = "tests/" + os.path.basename(calls[0][0])
    assert f"shard 0 lost (rc=-9, killed by signal 9) after {first}" in out
    assert "3 of 5 collected tests never reported" in out
    closing = out.strip().splitlines()[-1]
    assert "3 passed" in closing
    assert "3 not reported (lost shards 0)" in closing
    assert os.path.isfile(tmp_path / "suite_shard_1" / "pytest.log")
