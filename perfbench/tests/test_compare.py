"""The compare step refuses results taken at another core count or scale."""

from __future__ import annotations

import json

from perfbench import run


def _result(tmp_path, name, nproc=4, sf=0.01, pass_s=10.0):
    path = tmp_path / f"{name}.json"
    path.write_text(json.dumps({
        "workload": "curate", "trace": 0,
        "host": {"nproc": nproc, "SPARK_GRAFT_CPUS": str(nproc), "sf": sf},
        "metrics": {"pass_s": pass_s},
    }))
    return str(path)


def test_compare_reports_medians_on_like_hosts(tmp_path, capsys):
    base = [_result(tmp_path, f"b{i}", pass_s=v) for i, v in enumerate((9.0, 10.0, 11.0))]
    head = [_result(tmp_path, f"h{i}", pass_s=v) for i, v in enumerate((8.0, 9.0))]
    assert run.compare(base, head) == 0
    (row,) = json.loads(capsys.readouterr().out)["metrics"]
    assert (row["base"], row["head"]) == (10.0, 8.5)


def test_compare_refuses_another_core_count_or_scale(tmp_path):
    base = [_result(tmp_path, "b")]
    assert run.compare(base, [_result(tmp_path, "h32", nproc=32)]) == 3
    assert run.compare(base, [_result(tmp_path, "hsf", sf=0.1)]) == 3
