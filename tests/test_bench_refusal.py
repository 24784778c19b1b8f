"""bench.py refuses the local[8] -> local[32] scaling pair on a host with
fewer than 32 usable cores: the refusal and its message stand in the JSON
line and BENCH.md where the measurement would be."""

import json
import os

import bench


def _pair(lo, hi):
    stages = {k: 1.0 for k in bench._STAGES}
    return {
        "cores_n": lo, "cores_4n": hi, "stages_n": stages, "stages_4n": stages,
        "sec_n": 3.0, "sec_4n": 1.0, "rows_per_sec_n": 1, "rows_per_sec_4n": 3,
        "efficiency": 0.75, "stage_efficiency": {k: 0.75 for k in bench._STAGES},
        "rep_efficiencies": [{"sec_n": 3.0, "sec_4n": 1.0, "efficiency": 0.75}],
        "efficiency_min": 0.75, "efficiency_median": 0.75, "efficiency_max": 0.75,
    }


def test_scaling_refuses_pair_past_usable_cores(monkeypatch, tmp_path):
    measured = []

    def measure(lo, hi, sf_dir, reps, work_mult=1):
        measured.append((lo, hi))
        return _pair(lo, hi)

    monkeypatch.setattr(bench, "_measure_pair", measure)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    scaling = bench._scaling("unused")
    assert measured == [(bench.SCALE_N, bench.SCALE_4N)]
    refused = "local[32] needs 32 cores; this host has 4 usable"
    assert scaling["supplementary_8_32"] == {"refused": refused}

    # the headline line and BENCH.md render the refusal (written next to
    # the module, so point it at a scratch directory)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    q = {"assign": 1.0}
    result = {"value": 1.0, "queries": q, "queries_normalized": q, "sf": 0.1,
              "host_phase": {"factor": 1.0, "membw_factor": 1.0}, "scaling": scaling}
    line = json.loads(bench._headline_line(result))
    assert line["scaling"]["supplementary_8_32"] == {"refused": refused}
    bench._write_bench_md(result)
    assert f"Not measured: {refused}." in (tmp_path / "BENCH.md").read_text()
