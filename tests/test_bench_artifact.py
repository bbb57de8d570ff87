"""The bench artifact contract (round-5 fix for the r4 regression): the
driver captures only a ~2 KB stdout tail, so the FINAL line must stay
compact and parseable no matter how big the scaling evidence grows."""

import json
import os

from tools import scaling


def _fake_hunt(n_pairs: int, n_probes: int) -> dict:
    pairs = [
        {
            "low": {"cores": 2, "rows": 1200000, "sec": 40.0, "rows_per_sec": 30000.0},
            "high": {"cores": 8, "rows": 1200000, "sec": 13.0, "rows_per_sec": 92000.0},
            "efficiency": 0.7 + i / 100,
            "probe_before": {"memcpy_efficiency": 0.8, "samples_low": [1] * 50},
            "probe_after": {"memcpy_efficiency": 0.7, "samples_high": [2] * 50},
            "window_ceiling": 0.75,
            "eff_vs_ceiling": 1.0,
        }
        for i in range(n_pairs)
    ]
    return {
        "core_ratio": 4.0,
        "pinned": True,
        "probe_gate": {"min_efficiency": 0.7, "min_gbps_high": 18.0},
        "probe_log": [
            {"at_s": i * 50.0, "memcpy_gbps_high": 10.0, "memcpy_efficiency": 0.4}
            for i in range(n_probes)
        ],
        "hunt_seconds": 1200.0,
        "pairs": pairs,
        "rows": 1200000,
        "best_pair_efficiency": 0.76,
        "median_efficiency": 0.74,
        "all_efficiencies": [round(0.7 + i / 100, 3) for i in range(n_pairs)],
        "gate": {
            "threshold": 0.8,
            "passed_absolute": False,
            "best_eff_vs_ceiling": 1.0,
            "passed_ceiling_relative": True,
            "gate_basis": "ceiling-relative",
            "window_ceilings": [0.75] * n_pairs,
        },
    }


def test_compact_scaling_stays_small_even_with_max_pairs():
    """Even a maxed-out hunt (8 pairs, 40 probes) must summarize to a
    final line comfortably under the ~2 KB tail capture; past 8 pairs the
    per-pair lists stay in the sidecar only."""
    for n_pairs in (8, 40):
        sp = _fake_hunt(n_pairs=n_pairs, n_probes=40)
        compact = scaling.compact(sp, "bench_scaling.json")
        # the bulky fields must NOT leak into the compact summary
        assert "pairs" not in compact and "probe_log" not in compact
        assert compact["evidence_file"] == "bench_scaling.json"
        assert compact["gate"]["passed_absolute"] is False
        assert ("all_efficiencies" in compact) == (n_pairs <= 8)
        assert ("window_ceilings" in compact["gate"]) == (n_pairs <= 8)
        line = json.dumps(
            {
                "metric": "total wall sec of headline queries "
                "(parse→enrich→route→aggregate over tokenized sequences)",
                "value": 31.826,
                "unit": "sec",
                "queries": {f"dataprep_query_name_{i:02d}": 3.141 for i in range(16)},
                "sf": "0.1",
                "rows": 600000,
                "cores": 32,
                "rep": 4,
                "seq_per_sec": 102916.0,
                "stream": {
                    "rows_per_sec": 28000,
                    "bulk_rows_per_sec": 60000,
                    "batches": 6,
                },
                "scaling": compact,
            }
        )
        assert len(line.encode()) < 1900, len(line)
        assert json.loads(line)["scaling"]["best_pair_efficiency"] == 0.76
    assert sp["gate"]["window_ceilings"]  # compact copies, never trims, the hunt


class _Clock:
    """Stands in for the ``time`` module inside tools.scaling: ``sleep``
    advances the clock instead of waiting."""

    def __init__(self):
        self.t = 0.0

    def perf_counter(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _fake_host(monkeypatch, probes, high_rows_per_sec, leg_s=100.0, probe_s=10.0):
    """Patches an 8-CPU affinity, the clock, ``probe`` and ``run_level``:
    each probe takes the next entry of ``probes`` (an exception entry is
    raised), each leg ``leg_s``.
    Returns the clock and the clock readings at which legs started."""
    clock, legs = _Clock(), []
    it = iter(probes)

    def probe():
        clock.t += probe_s
        hc = next(it)
        if isinstance(hc, Exception):
            raise hc
        eff, bw = hc
        return {"memcpy_efficiency": eff, "memcpy_gbps_high": bw, "memcpy_gbps_low": bw / 4 / eff}

    def run_level(cores, sf_dir, rep):
        legs.append(clock.t)
        clock.t += leg_s
        rps = 1000.0 if cores == scaling.N_LOW else high_rows_per_sec
        return {"cores": cores, "rows": 1000 * rep, "sec": leg_s, "rows_per_sec": rps}

    monkeypatch.setattr(scaling.os, "sched_getaffinity", lambda pid: set(range(8)))
    monkeypatch.setattr(scaling, "time", clock)
    monkeypatch.setattr(scaling, "probe", probe)
    monkeypatch.setattr(scaling, "run_level", run_level)
    return clock, legs


def test_hunt_below_gate_fires_one_ungated_pair_after_the_budget(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCALING_BUDGET", "300")
    clock, legs = _fake_host(monkeypatch, [(0.5, 10.0)] * 100, high_rows_per_sec=3000.0)
    sp = scaling.hunt("sf")
    assert len(sp["pairs"]) == 1 and len(legs) == 2
    assert min(legs) >= 300  # nothing fired inside the budget
    assert len(sp["probe_log"]) == 8  # one probe per 10 s probe + 30 s pause
    assert sp["pairs"][0]["efficiency"] == 0.75
    assert sp["gate"]["passed_absolute"] is False


def test_hunt_stops_at_a_gated_pair_that_clears_the_rule(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCALING_BUDGET", "10000")
    clock, legs = _fake_host(
        monkeypatch, [(0.5, 25.0), (0.8, 25.0), (0.78, 22.0)] + [(0.8, 25.0)] * 10,
        high_rows_per_sec=3400.0,
    )
    sp = scaling.hunt("sf")
    assert len(sp["pairs"]) == 1 and len(legs) == 2  # stopped at the first pair
    assert sp["best_pair_efficiency"] == 0.85
    assert sp["pairs"][0]["window_ceiling"] == 0.79  # mean of before and after
    assert sp["gate"]["passed_absolute"] is True and sp["gate"]["gate_basis"] == "absolute"
    assert clock.t < 10000


def test_hunt_pairs_below_the_rule_leave_passed_absolute_false(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCALING_BUDGET", "10000")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_PAIRS", "3")
    _, legs = _fake_host(monkeypatch, [(0.75, 20.0)] * 20, high_rows_per_sec=2800.0)
    sp = scaling.hunt("sf")
    assert len(sp["pairs"]) == 3 and len(legs) == 6
    assert sp["all_efficiencies"] == [0.7, 0.7, 0.7]
    assert sp["gate"]["passed_absolute"] is False
    assert sp["gate"]["gate_basis"] == "ceiling-relative"
    assert sp["gate"]["best_eff_vs_ceiling"] == 0.933


def test_hunt_records_probe_failures_without_raising(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCALING_BUDGET", "100")
    _, legs = _fake_host(monkeypatch, [OSError("no taskset")] * 10, high_rows_per_sec=3000.0)
    sp = scaling.hunt("sf")
    assert sp["probe_log"] == []
    assert sp["errors"] and all(e == "probe: OSError: no taskset" for e in sp["errors"])
    # the ungated pair still runs; with no probe it has no ceiling
    assert len(sp["pairs"]) == 1 and len(legs) == 2
    assert sp["pairs"][0]["probe_before"] == {"error": "OSError: no taskset"}
    assert sp["pairs"][0]["window_ceiling"] is None
    assert sp["gate"]["passed_absolute"] is False


def test_hunt_refuses_a_host_with_fewer_cpus_than_the_high_leg(monkeypatch):
    """Four usable CPUs cannot hold the 8-core leg: no probe, no leg, and the
    refusal reaches the compact line."""
    _, legs = _fake_host(monkeypatch, [], high_rows_per_sec=3000.0)
    monkeypatch.setattr(scaling.os, "sched_getaffinity", lambda pid: set(range(4)))
    sp = scaling.hunt("sf")
    assert legs == [] and "pairs" not in sp and "probe_log" not in sp
    assert sp["refused"] == "4 usable CPUs, the high leg needs 8"
    compact = scaling.compact(sp, "bench_scaling.json")
    assert compact["refused"] == sp["refused"] and compact["n_probes"] == 0


def test_bench_leaves_match_the_recorded_artifact():
    """BENCH_LEAVES is the one leaf list: its names are the 16 queries of
    the recorded BENCH_r06.json artifact, in order, and every leaf is forced
    by one of the three sink actions."""
    from bench import ACTIONS, BENCH_LEAVES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_r06.json")) as f:
        recorded = list(json.load(f)["parsed"]["queries"])
    assert [name for name, _, _ in BENCH_LEAVES] == recorded
    assert set(ACTIONS) == {"hash", "count", "collect"}
    assert {action for _, _, action in BENCH_LEAVES} <= set(ACTIONS)
