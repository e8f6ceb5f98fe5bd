"""tools/dump_plan.py refuses plan evidence that proves nothing: an
``after`` plan byte-identical to its ``before``. No Spark session."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _dump_plan():
    spec = importlib.util.spec_from_file_location(
        "dump_plan", ROOT / "tools" / "dump_plan.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_identical_after_is_refused_and_nothing_written(tmp_path):
    dp = _dump_plan()
    (tmp_path / "q1_before.txt").write_text("plan A")
    (tmp_path / "q2_before.txt").write_text("plan B")
    rc = dp.write_plans(str(tmp_path), "after", {"q2": "plan C", "q1": "plan A"})
    assert rc != 0
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "q1_before.txt",
        "q2_before.txt",
    ]


def test_changed_after_and_before_are_written(tmp_path):
    dp = _dump_plan()
    assert dp.write_plans(str(tmp_path), "before", {"q1": "plan A"}) == 0
    assert dp.write_plans(str(tmp_path), "after", {"q1": "plan B"}) == 0
    assert (tmp_path / "q1_before.txt").read_text() == "plan A"
    assert (tmp_path / "q1_after.txt").read_text() == "plan B"
