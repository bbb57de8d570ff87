"""The bench artifact contract (round-5 fix for the r4 regression): the
driver captures only a ~2 KB stdout tail, so the FINAL line must stay
compact and parseable no matter how big the scaling evidence grows."""

import json
import os

from bench import _compact_scaling


def _fake_hunt(n_pairs: int, n_probes: int) -> dict:
    pairs = [
        {
            "kind": "quick" if i % 2 else "full",
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
        "best_pair_basis": "full",
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
    final line comfortably under the ~2 KB tail capture."""
    sp = _fake_hunt(n_pairs=8, n_probes=40)
    compact = _compact_scaling(sp, "bench_scaling.json")
    # the bulky fields must NOT leak into the compact summary
    assert "pairs" not in compact and "probe_log" not in compact
    assert compact["evidence_file"] == "bench_scaling.json"
    assert compact["gate"]["passed_absolute"] is False
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


def test_quick_only_hunts_cannot_pass_absolute():
    """A hunt whose every pair is quick (1 timed run per leg) reports its
    basis and the gate logic in bench.py forces passed_absolute False —
    guard the summary's passthrough of both fields."""
    sp = _fake_hunt(n_pairs=2, n_probes=5)
    for p in sp["pairs"]:
        p["kind"] = "quick"
    sp["best_pair_basis"] = "quick-only"
    sp["gate"]["passed_absolute"] = False
    compact = _compact_scaling(sp, "bench_scaling.json")
    assert compact["best_pair_basis"] == "quick-only"
    assert compact["gate"]["passed_absolute"] is False


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
