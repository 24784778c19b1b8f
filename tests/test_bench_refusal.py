"""bench.py refuses the local[N] -> local[4N] scaling pair when 4N is more
than the usable cores: the refusal and its message stand in the JSON line
and BENCH.md where the measurement would be. Mocked: no Spark session."""

import json
import os

import bench


def _result(scaling):
    q = {"expire": 1.0}
    return {"cpus": 2, "data": "sf0.1", "reps": 3, "value": 1.0, "queries": q,
            "queries_normalized": q, "scaling": scaling,
            "host_phase": {"calib_before_sec": 0.3, "calib_after_sec": 0.3,
                           "nominal_sec": 0.33, "factor": 1.0}}


def test_scaling_refuses_pair_past_usable_cores(monkeypatch, tmp_path):
    measured = []

    def measure(lo, hi, sf_dir, reps):
        measured.append((lo, hi))
        return {"measured": True}

    monkeypatch.setattr(bench, "_measure_pair", measure)
    monkeypatch.setattr(bench, "SCALE_N", 1)
    monkeypatch.setattr(bench, "SCALE_4N", 4)

    # 4 usable cores hold local[4]: the pair is measured
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    assert bench._scaling("unused") == {"measured": True}
    assert measured == [(1, 4)]

    # 2 usable cores do not: refused, nothing measured
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(2)))
    scaling = bench._scaling("unused")
    assert measured == [(1, 4)]
    refused = "local[4] needs 4 cores; this host has 2 usable"
    assert scaling == {"refused": refused}

    # the headline line and BENCH.md render the refusal (written next to
    # the module, so point it at a scratch directory)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    result = _result(scaling)
    line = bench._headline_line(result)
    assert json.loads(line)["scaling"] == {"refused": refused}
    bench._write_bench_md(result)
    assert f"Not measured: {refused}." in (tmp_path / "BENCH.md").read_text()
