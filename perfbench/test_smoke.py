"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload untraced and traced through the real command (a few
minutes in all) and checks that every declared metric is emitted with its unit,
that the correctness check passes, and that one seed always produces
byte-identical input files.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from workloads import SIZES  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_declared_metrics_emitted_and_correct(workload, trace):
    out = _run(workload, trace)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def _render(dst: Path, seed: int) -> None:
    s = SIZES["tiny"]
    from datetime import date, timedelta

    days = [date(2021, 1, 1) + timedelta(days=d) for d in range(s["history_days"])]
    r = gen.renewals(seed, 0, days, s["rows_per_day"], 3)
    gen.write_csv(dst / "renewals.csv", r.columns, r.raw)
    t = gen.transactions(seed, s["txn_rows"])
    gen.write_csv(dst / "transactions.csv", t.columns, t.raw)
    sheets, _ = gen.optiom(seed, s["optiom_rows"], s["txn_rows"])
    gen.write_xlsx(dst / "ProductionRpt.xlsx", sheets)
    gen.write_tpch(dst / "sf", gen.tpch_tables(seed, s["tpch_scale"]))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 3), (b, 3), (c, 4)):
        d.mkdir()
        _render(d, seed)
    files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    assert len(files) == 13
    for f in files:
        assert (a / f).read_bytes() == (b / f).read_bytes(), f
    assert (a / "renewals.csv").read_bytes() != (c / "renewals.csv").read_bytes()
