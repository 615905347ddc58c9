"""The scaling tool's summary reproduces every scaling figure
BENCH/BASELINE.md publishes from the committed raw records (round-3 JSON
reports, round-4 and round-5 JSONL), and its corpus cache is keyed by conv
count. Pure arithmetic: no Spark session."""

from __future__ import annotations

import importlib.util
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BENCH = os.path.join(_REPO, "BENCH")


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", os.path.join(_REPO, "scripts", "scaling_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def tool():
    return _load_tool()


def _efficiency(tool, name, variant):
    """Per-occurrence 2→8 efficiency of one variant in one record file."""
    by = tool.latest(tool.load_records(os.path.join(_BENCH, name)))
    trans = tool.transitions(by, variant, "sec")
    return next(round(eff, 3) for lo, hi, _, eff in trans if (lo, hi) == (2, 8))


@pytest.mark.parametrize(
    "name,eff",
    [
        ("scaling_r3_240k.json", 0.777),
        ("scaling_r3_480k.json", 0.875),
        ("scaling_r3_480k_run2.json", 0.892),
    ],
)
def test_r3_efficiency(tool, name, eff):
    assert _efficiency(tool, name, "toy") == eff
    assert f"efficiency {eff:.3f} (target ≥ 0.8)" in tool.summarize(
        os.path.join(_BENCH, name)
    )


def test_r4_efficiency_and_ab(tool):
    path = os.path.join(_BENCH, "scaling_r4_480k.jsonl")
    # the quiet-window redo appended later supersedes the first pass
    assert _efficiency(tool, "scaling_r4_480k.jsonl", "toy") == 0.832
    assert _efficiency(tool, "scaling_r4_480k.jsonl", "jvm_token_ids") == 0.820
    md = tool.summarize(path)
    for level, ratio in ((2, "0.946"), (8, "0.931"), (32, "1.011")):
        prefix = f"- local[{level}] `toy` → `jvm_token_ids`: per-occurrence"
        (line,) = [ln for ln in md.splitlines() if ln.startswith(prefix)]
        assert f"({ratio}×), dedup" in line


def test_r5_efficiency_and_fixed_cost(tool):
    path = os.path.join(_BENCH, "scaling_r5.jsonl")
    assert _efficiency(tool, "scaling_r5.jsonl", "refcap4x") == 0.890
    assert _efficiency(tool, "scaling_r5.jsonl", "toy") == 0.656
    by = tool.latest(tool.load_records(path))
    fixed = {c: round(cost, 2) for c, (cost, _) in tool.fixed_costs(by).items()}
    assert fixed == {2: 15.44, 8: 6.50, 32: 2.10}
    md = tool.summarize(path)
    for c, cost in fixed.items():
        assert f"- local[{c}]: fixed job cost {cost:.2f} s" in md
    # only variants measured on the same input are A/B'd
    assert "A/B between variants" not in md


def test_record_shapes_normalize_to_one(tool):
    keys = {"cpus", "variant", "n_turns", "sec", "all_runs_sec", "sec_dedup"}
    for name, variants in (
        ("scaling_r3_240k.json", {"toy"}),
        ("scaling_r4_480k.jsonl", {"toy", "jvm_token_ids"}),
        ("scaling_r5.jsonl", {"toy", "refcap", "refcap4x"}),
    ):
        recs = tool.load_records(os.path.join(_BENCH, name))
        assert all(keys <= r.keys() for r in recs)
        assert {r["variant"] for r in recs} == variants


def test_corpus_dir_is_keyed_by_conv_count(tool, monkeypatch):
    assert tool.corpus_dir(240_000) != tool.corpus_dir(480_000)
    dirs = set()
    for convs in ("240000", "480000"):
        monkeypatch.setenv("RELEX_SCALING_CONVS", convs)
        mod = _load_tool()
        dirs.add(mod.corpus_dir(mod.VARIANTS["toy"][0]))
    assert len(dirs) == 2
    assert len({tool.corpus_dir(n) for n, _, _ in tool.VARIANTS.values()}) == len(
        tool.VARIANTS
    )


def test_run_skips_recorded_keys(tool, tmp_path, monkeypatch, capsys):
    """Every (level, variant) of the plan already recorded: the run starts
    no worker, appends nothing and prints the file's summary."""
    out = tmp_path / "scaling.jsonl"
    with open(os.path.join(_BENCH, "scaling_r5.jsonl")) as f:
        out.write_text(f.read())
    before = out.read_text()
    monkeypatch.setattr(tool, "LEVELS", (2, 8, 32))
    # generating a corpus or starting a worker fails the test
    monkeypatch.setattr(tool, "ensure_corpus", None)
    monkeypatch.setattr(tool.subprocess, "run", None)
    assert tool.run(str(out), []) == 0
    assert out.read_text() == before
    assert capsys.readouterr().out == tool.summarize(str(out)) + "\n"
