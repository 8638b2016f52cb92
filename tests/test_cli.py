"""CLI tests (kbrowse `lein run cli` parity — SURVEY O23)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from kbrowse_spark import cli
from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sinks.pioneer import collect_protocol
from kbrowse_spark.sources.fixture import golden_topic_a

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_bad_args_error_contract():
    # Q8: a bad option is exit 2 with {"error": msg} on stderr, not a
    # traceback.
    res = subprocess.run(
        [sys.executable, "-m", "kbrowse_spark.cli",
         "--source-parquet", "X", "--partitions", "1,a"],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert res.returncode == 2, res.stderr
    assert res.stdout == ""
    assert json.loads(res.stderr) == {
        "error": "--partitions must be an integer, got 'a'"
    }


def test_cli_golden_search(spark, tmp_path, monkeypatch, capsys):
    path = str(tmp_path / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    monkeypatch.setattr("kbrowse_spark.session.get_spark", lambda *a, **k: spark)
    argv = ["--source-parquet", path, "--topics", "topic-a", "--key-regex", "k0"]
    assert cli.main(argv) == 0
    spec = QuerySpec(source_parquet=path, topics=["topic-a"], key_regex="k0").validate()
    expected = collect_protocol(build_scan(spark, spec))
    assert [r["value"] for r in json.loads(expected)[1:]] == ["v0", "v1"]
    assert capsys.readouterr().out == expected + "\n"
