"""The scaling harness's record step (tools/scaling.py), without Spark:
best-per-config and efficiency arithmetic, the identity flags, and a
merge into BENCH_SCALING.json that keeps every other key."""
import difflib
import json

import pytest

from tools import scaling

SEL, SCORES = ["pbit0", "pbit7"], {"pbit0": 0.5, "pbit7": 0.25}


def _session(pipe, scan, selected=SEL, scores=SCORES):
    return {"pipeline": {"wall_s": min(pipe), "walls_s": pipe,
                         "selected": selected, "hsic_scores": scores,
                         "rows_used": 1000},
            "scan": {"wall_s": min(scan), "walls_s": scan}}


def _runs(**kw32):
    return {(8, "48g"): [_session([10.0, 12.0], [4.0, 5.0]),
                         _session([11.0, 9.0], [6.0, 4.5])],
            (32, "48g"): [_session([5.0, 4.0], [2.0, 2.5], **kw32),
                          _session([4.5, 6.0], [1.0, 3.0], **kw32)]}


def test_best_per_config_and_efficiency():
    s = scaling.summarise(_runs(), [8, 32], ["48g"], ceiling=0.8)
    p8 = s["configs"]["local8_48g"]["pipeline"]
    assert p8["wall_s"] == 9.0
    assert p8["walls_s"] == [9.0, 10.0, 11.0, 12.0]
    assert s["configs"]["local32_48g"]["pipeline"]["wall_s"] == 4.0
    assert s["configs"]["local32_48g"]["scan"]["wall_s"] == 1.0
    # throughput ratio / cpu ratio: (1000/4) / (1000/9) / (32/8)
    assert s["efficiency"]["pipeline"] == {"48g": {"32": round(9 / 16, 3)}}
    assert s["efficiency"]["scan"] == {"48g": {"32": 1.0}}
    assert s["hardware_ceiling"] == 0.8
    assert s["selection_identical"] is True
    assert s["scores_identical"] is True


def test_identity_flags_flip_when_one_config_differs():
    s = scaling.summarise(
        _runs(scores={"pbit0": 0.5, "pbit7": 0.25000000000000006}),
        [8, 32], ["48g"])
    assert (s["selection_identical"], s["scores_identical"]) == (True, False)
    assert "hardware_ceiling" not in s
    s = scaling.summarise(_runs(selected=["pbit7", "pbit0"]),
                          [8, 32], ["48g"])
    assert s["selection_identical"] is False
    scan_only = {k: [{"scan": r["scan"]} for r in v]
                 for k, v in _runs().items()}
    s = scaling.summarise(scan_only, [8, 32], ["48g"])
    assert (s["selection_identical"], s["scores_identical"]) == (None, None)


def test_record_keeps_other_keys_and_only_inserts(tmp_path):
    path = tmp_path / "BENCH_SCALING.json"
    with open(scaling.RECORD) as f:
        before = f.read()
    path.write_text(before)
    section = scaling.summarise(_runs(), [8, 32], ["48g"])
    scaling.record(str(path), "scaling_500_cpus8-32_mem48g", section)
    after = path.read_text()
    data = json.loads(after)
    assert data.pop("scaling_500_cpus8-32_mem48g") == section
    assert data == json.loads(before)
    assert after == json.dumps(json.loads(after), indent=1, sort_keys=True)
    ops = difflib.SequenceMatcher(None, before.splitlines(),
                                  after.splitlines()).get_opcodes()
    assert {op for op, *_ in ops} == {"equal", "insert"}
    assert list(tmp_path.iterdir()) == [path]  # no temp file left behind


def test_unknown_layer_raises():
    assert scaling.parse_layers("pipeline,core") == ["pipeline", "core"]
    with pytest.raises(ValueError, match="bogus"):
        scaling.parse_layers("pipeline,bogus")
    with pytest.raises(ValueError):
        scaling.main(["100", "--layers", "scan,kernel"])
