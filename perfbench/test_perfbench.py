"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]

from gen import generate  # noqa: E402
from layers import Spans, parse_metric  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.glob("*.parquet"))}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    generate(tmp_path / "a", [7, 1], 0.1)
    generate(tmp_path / "b", [7, 1], 0.1)
    generate(tmp_path / "c", [8, 1], 0.1)
    a, b, c = (_bytes(tmp_path / x) for x in "abc")
    assert len(a) == 10
    assert a == b
    # every seeded table differs; the fixed region/nation tables may not
    assert [n for n in a if a[n] != c[n]] == sorted(set(a) - {"nation.parquet", "region.parquet"})


def test_generated_domains_match_the_reference_tier(tmp_path):
    import pyarrow.parquet as pq

    generate(tmp_path, [3, 1])
    events = pq.read_table(tmp_path / "events.parquet").to_pandas()
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert set(events.event_type) == {"view", "click", "signup", "purchase", "error"}
    assert set(docs.lang) == {"en", "zh", "es", "de", "fr"}
    assert docs.source.nunique() == 20
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) == 25
    assert all(t[:-4] in set(docs.text) for t in dups.text)


def _declared(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metric_names_match_benchmark_json(trace):
    import run

    section = "per_layer" if trace else "end_to_end"
    names = _declared(section)
    printed = run.format_metrics({n: 1.0 for n in names}, trace)
    assert {n: v["unit"] for n, v in printed.items()} == names
    with pytest.raises(RuntimeError):
        run.format_metrics({n: 1.0 for n in list(names)[1:]}, trace)
    with pytest.raises(RuntimeError):
        run.format_metrics({**{n: 1.0 for n in names}, "undeclared": 1.0}, trace)


def test_committed_baseline_prints_every_per_layer_metric():
    baseline = json.loads((HERE / "baseline.json").read_text())
    for workload in SPEC["workloads"]:
        printed = baseline[workload["name"]]["metrics"]
        assert {n: v["unit"] for n, v in printed.items()} == _declared("per_layer")


def test_corrupted_result_fails_the_output_check(tmp_path):
    from check import OracleCheck

    from skills_vectors_spark import registry

    registry.load_all()
    generate(tmp_path, [5, 1])
    oracle = OracleCheck(str(tmp_path))
    try:
        for name in ("agg_hash", "knn_exact"):
            good = oracle.con.execute(registry.ORACLES[name]).df()
            assert oracle.problems(name, good.copy()) == []
            bad = good.copy()
            col = bad.select_dtypes("number").columns[-1]
            bad.loc[0, col] = bad.loc[0, col] + 1
            assert oracle.problems(name, bad)
            assert oracle.problems(name, good.iloc[1:].reset_index(drop=True))
    finally:
        oracle.close()


def test_preflight_bounds():
    from check import ROW_FACTOR, preflight

    ref = {"q": 300}
    assert preflight("q", 300, ref) is None
    assert preflight("q", 0, ref)
    assert preflight("q", int(300 * ROW_FACTOR) + 1, ref)
    assert preflight("q", int(300 / ROW_FACTOR) - 1, ref)
    assert preflight("unknown", 5, ref)


def test_traced_self_times_sum_to_at_most_the_wall():
    spans = Spans()
    t = time.perf_counter()
    with spans.span("query"):
        with spans.span("build"):
            with spans.span("sources.load"):
                time.sleep(0.01)
            time.sleep(0.01)
        with spans.span("exec"):
            time.sleep(0.01)
    wall = time.perf_counter() - t
    self_t = spans.self_times()
    assert all(v >= 0 for v in self_t.values())
    assert sum(self_t.values()) <= wall
    top = spans.records[0]
    assert sum(self_t.values()) == pytest.approx(top["t1"] - top["t0"])


def test_sql_metric_strings_parse():
    assert parse_metric("1.9 s") == pytest.approx(1.9)
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("2.5 m") == pytest.approx(150.0)
    assert parse_metric("135.2 KiB") == pytest.approx(135.2 * 1024)
    assert parse_metric("1,000") == 1000.0
    multi = "total (min, med, max (stageId: taskId))\n8.0 s (1.9 s, 2.0 s, 2.1 s (stage 2.0: task 5))"
    assert parse_metric(multi) == pytest.approx(8.0)
    assert parse_metric("total (min, med, max)\n6.8 KiB (1607.0 B, 1.8 KiB)") == pytest.approx(6.8 * 1024)
    with pytest.raises(ValueError):
        parse_metric("n/a")


def test_orphaned_descendants_are_stopped_and_reaped():
    """A grandchild whose parent has exited is adopted and ended, as the
    Python-worker daemon is once the JVM that started it has gone."""
    import subprocess

    script = f"""
import os, subprocess, sys
sys.path.insert(0, {str(HERE)!r})
import run
run.become_subreaper()
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
orphan = int(out.stdout)
assert run.children() == [orphan]
run.stop_children(grace_s=0.2)
assert run.children() == []
assert not os.path.exists(f"/proc/{{orphan}}")
"""
    subprocess.run([sys.executable, "-c", script], check=True, timeout=30)
