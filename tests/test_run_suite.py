"""The sharded suite runner (run_suite.py) and the takeover that starts
it: shard sizing from the machine, a shard killed by a signal reported
as lost rather than folded into a clean closing line, which options
keep a run in-process, and options that name files applied per shard.
The shards here are fake processes; no Spark session starts."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys
import tempfile
import xml.etree.ElementTree as ET

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


def test_takeover_forwards_what_a_shard_honours():
    from conftest import takeover_args

    base = ["tests/", "-q", "--continue-on-collection-errors",
            "-p", "no:cacheprovider"]
    # the Tier-1 command: still sharded, its options reach every shard
    assert takeover_args(base, ["tests/"]) == [
        "--continue-on-collection-errors", "-p", "no:cacheprovider"]
    assert takeover_args(
        ["tests", "-vv", "-W", "error::UserWarning", "-rA", "-pno:x"],
        ["tests"],
    ) == ["-W", "error::UserWarning", "-rA", "-pno:x"]
    assert takeover_args(["tests/"], ["tests/"]) == []
    # reporting, selection and file options shard too: run in-process
    # the suite takes about 40 min
    for opts in (
        ["--junitxml", "r.xml"], ["--junit-xml=r.xml"], ["-rxX"],
        ["--tb=short"], ["-o", "console_output_style=classic"],
        ["--color=no"], ["-k", "oracle"], ["-m", "not slow"],
        ["--deselect", "tests/test_a.py::t"], ["--ignore=tests/test_a.py"],
        ["--basetemp", "/tmp/bt"], ["-s"], ["--durations=10"],
    ):
        assert takeover_args([*base, *opts], ["tests/"]) == [
            *base[2:], *opts], opts
    assert takeover_args([*base, "--verbosity", "2", "-v"], ["tests/"]) \
        == base[2:]


def test_takeover_stays_in_process_for_what_it_cannot_forward():
    from conftest import takeover_args

    for opts in (
        ["-x"], ["-qx"], ["--exitfirst"], ["--maxfail=2"],
        ["--maxfail", "2"], ["--lf"], ["--ff"], ["--sw"],
        ["--collect-only"], ["--co"], ["--pdb"],
    ):
        assert takeover_args(
            ["tests/", "-q", "-p", "no:cacheprovider", *opts], ["tests/"]
        ) is None, opts


def test_path_options_apply_per_shard(tmp_path, monkeypatch):
    extra, opts = run_suite.split_path_opts([
        "-rA", "--junitxml", "r.xml", "--basetemp=bt",
        "--ignore=tests/test_a.py", "--ignore-glob", "*_b.py", "--tb=no",
    ])
    assert extra == ["-rA", "--tb=no"]
    assert opts == {"--junitxml": ["r.xml"], "--basetemp": ["bt"],
                    "--ignore": ["tests/test_a.py"],
                    "--ignore-glob": ["*_b.py"]}
    monkeypatch.chdir(_ROOT)
    assert run_suite.ignored(os.path.join(_ROOT, "tests", "test_a.py"), opts)
    assert run_suite.ignored("tests/test_b.py", opts)
    assert not run_suite.ignored("tests/test_c.py", opts)

    calls = []

    def shard_cmd(shard, extra):
        calls.append((shard, extra))
        out = next(a.split("=", 1)[1] for a in extra
                   if a.startswith("--junitxml="))
        return _fake(
            f"open({out!r}, 'w').write('<testsuites><testsuite name=\"p\">"
            f"<testcase name=\"t{len(calls)}\"/></testsuite></testsuites>')\n"
            "print('===== 1 passed in 0.10s =====')\n"
        )

    monkeypatch.setattr(run_suite, "shard_cmd", shard_cmd)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    merged = tmp_path / "out" / "r.xml"
    rc = run_suite.main([
        "run_suite.py", "--shards", "2", "--", "-rA",
        f"--junitxml={merged}", "--basetemp", str(tmp_path / "bt"),
        "--ignore", "tests/test_run_suite.py",
    ])

    assert rc == 0 and len(calls) == 2
    files = [f for shard, _ in calls for f in shard]
    assert not any(f.endswith("test_run_suite.py") for f in files)
    assert len(files) == len(glob.glob(os.path.join(_ROOT, "tests",
                                                    "test_*.py"))) - 1
    for i, (_, extra) in enumerate(calls):
        assert extra[0] == "-rA"
        assert f"--basetemp={tmp_path / 'bt' / str(i)}" in extra
    names = sorted(c.get("name") for c in ET.parse(merged).iter("testcase"))
    assert names == ["t1", "t2"]
