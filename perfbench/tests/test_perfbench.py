"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator and check tests need no Spark and take seconds. The smoke
tests start one Spark session per run and take a few minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen_contacts as G  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def _tree_equal(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_fixed_seed_gives_identical_contacts_inputs(tmp_path):
    spec = run.contacts_spec(tiny=True)
    a = G.generate(str(tmp_path / "a"), 5, spec)
    b = G.generate(str(tmp_path / "b"), 5, spec)
    c = G.generate(str(tmp_path / "c"), 6, spec)
    assert a.facts == b.facts
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _tree_equal(str(tmp_path / "a"), str(tmp_path / "c"))


def test_fixed_seed_gives_identical_tables(tmp_path):
    a = gen_tables.generate(str(tmp_path / "a"), 5, 0.001)
    gen_tables.generate(str(tmp_path / "b"), 5, 0.001)
    assert a["lineitem"] == 6000 and a["documents"] == 50
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))


def _fake_output(out, facts, rows=None, seq=None, errors=None, fills=None, fill_ids=None):
    """An output directory shaped like run_cli's, with the given counts."""
    os.makedirs(out, exist_ok=True)
    n = facts.exported_rows if rows is None else rows
    seq = seq or [str(k) for k in range(1, n + 1)]
    with open(os.path.join(out, "MergedDatabase.tsv"), "w") as f:
        f.write("\t".join(G.MASTER_COLUMNS) + "\n")
        f.writelines(f"{s}\tx\n" for s in seq)
    with open(os.path.join(out, "validation_errors.json"), "w") as f:
        f.writelines("{}\n" for _ in range(facts.error_docs if errors is None else errors))
    # one entry per filled cell; a row filled twice has two entries
    n_fill = facts.fill_log_entries if fills is None else fills
    n_ids = facts.fill_rows if fill_ids is None else fill_ids
    ids = (list(range(n_ids)) * 2)[:n_fill]
    with open(os.path.join(out, "fill_change_log.json"), "w") as f:
        f.writelines(json.dumps({"__row_id": r}) + "\n" for r in ids)
    return out


def test_output_check_catches_each_corruption(tmp_path):
    facts = G.generate(str(tmp_path / "in"), 3, run.contacts_spec(tiny=True)).facts
    good = _fake_output(str(tmp_path / "good"), facts)
    assert run.check_contacts_output(good, facts.return_code, facts) == []
    n = facts.exported_rows
    bad = {
        "rows": dict(rows=n - 1),
        "seq": dict(seq=[str(k) for k in range(2, n + 2)]),
        "errors": dict(errors=facts.error_docs + 1),
        "fills": dict(fills=facts.fill_log_entries - 1),
        "fill_ids": dict(fill_ids=facts.fill_rows - 1),
    }
    for name, kw in bad.items():
        out = _fake_output(str(tmp_path / name), facts, **kw)
        assert run.check_contacts_output(out, facts.return_code, facts), name
    assert run.check_contacts_output(good, 1, facts)
    assert run.check_contacts_output(str(tmp_path / "missing"), 0, facts)


def test_oracle_compare_is_not_vacuous():
    import pandas as pd

    from tools.check import canon

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert canon(a) == canon(a.iloc[::-1])
    assert canon(a) != canon(a.assign(v=[0.5, 1.25]))


def _bench(*args, env=None):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["contacts_cli", "registry_mix"])
def test_smoke_run_reports_named_metrics(workload):
    out = _bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", "--tiny")
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(out["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


@pytest.mark.parametrize("workload", ["contacts_cli", "registry_mix"])
def test_traced_smoke_run_reports_layers(workload):
    out = _bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "1", "--tiny")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(out["metrics"]) == {m["name"] for m in bench["per_layer"]}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipeline.jobs"] > 0 and m["spark.stages"] > 0
    if workload == "contacts_cli":
        assert m["operators.enrich.calls"] == 1
        # one header peek per read_tsv (master, two sources) and one more
        # per source in pipeline._run, one job each
        assert m["io.readers.jobs"] == 5
        assert m["plans.queries.build_s"] == 0  # no registry query here
    else:
        assert m["operators.enrich.calls"] == 0  # the enrich-bypass control
        assert m["plans.queries.build_s"] > 0 and m["operators.similarity.call_s"] > 0


def test_corrupted_export_counts_as_failed(tmp_path):
    """Drop the last exported row after every write: every run_cli call of
    the run must fail its check."""
    hook = tmp_path / "sitecustomize.py"
    hook.write_text(
        "from bcg_contacts_data_pipeline_spark.io import writers as W\n"
        "_orig = W.write_tsv_single\n"
        "def _cut(df, path, header=True):\n"
        "    out = _orig(df, path, header)\n"
        "    lines = open(out).readlines()\n"
        "    open(out, 'w').writelines(lines[:-1])\n"
        "    return out\n"
        "W.write_tsv_single = _cut\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(tmp_path), ROOT]))
    out = _bench("--workload", "contacts_cli", "--seed", "1", "--seconds", "1", "--trace", "0", "--tiny", env=env)
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 2


def test_refuses_to_run_without_engine(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", ".out", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "contacts_cli", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
