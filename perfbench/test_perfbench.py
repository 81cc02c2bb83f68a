"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

None of them starts Spark."""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest_dir(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("make, kw", [
    (gen.make_text, {"n_tokens": 20_000}),
    (gen.make_ints, {"n": 20_000}),
    (gen.make_curation, {"n_docs": 80, "dup_share": 0.1}),
])
def test_generator_is_deterministic(tmp_path, make, kw):
    a = make(str(tmp_path / "a"), 7, **kw)
    b = make(str(tmp_path / "b"), 7, **kw)
    c = make(str(tmp_path / "c"), 8, **kw)
    assert a == b
    assert _digest_dir(str(tmp_path / "a")) == _digest_dir(str(tmp_path / "b"))
    assert _digest_dir(str(tmp_path / "a")) != _digest_dir(str(tmp_path / "c"))


def test_text_expected_counts_follow_the_reference_tokenizer(tmp_path):
    info = gen.make_text(str(tmp_path), 3, n_tokens=5_000, vocab=300)
    counts: dict[str, int] = {}
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name) as f:
            for line in f:
                for tok in line.rstrip("\n").split(" "):
                    word = "".join(ch for ch in tok if ch.isascii() and ch.isalpha()).lower()
                    if word:
                        counts[word] = counts.get(word, 0) + 1
    assert counts == info["counts"]
    assert info["distinct_words"] == len(counts)


def test_text_size_hardly_varies_between_seeds(tmp_path):
    sizes = [gen.make_text(str(tmp_path / str(s)), s, n_tokens=50_000, vocab=2_000)["bytes"]
             for s in (1, 2, 3)]
    assert max(sizes) / min(sizes) < 1.01


def test_curation_plants_the_stated_share(tmp_path):
    info = gen.make_curation(str(tmp_path), 5, n_docs=200, dup_share=0.1)
    assert len(info["planted"]) == 20
    assert all(a < b for a, b in info["planted"])
    assert not {x for p in info["planted"] for x in p} & set(info["low_quality_ids"])


@pytest.mark.parametrize("n, pct, value", [
    (1, 100.0, 1.0),
    (20, 100.0, 20.0),    # rank n-10 would be the median: report the slowest
    (21, 100 * 11 / 21, 11.0),
    (30, 100 * 20 / 30, 20.0),
    (1000, 99.0, 990.0),
])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct, value):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    got, got_pct, got_n = stats.tail(values)
    assert (got, got_n) == (value, n)
    assert got_pct == pytest.approx(pct)
    if n > 20:
        assert sum(v > got for v in values) == stats.TAIL_BEYOND


def test_job_p50_takes_the_median_per_kind_first():
    # plain median of these six would be (2.0 + 10.0) / 2
    jobs = [("wc", 10.0), ("sort", 1.0), ("wc", 11.0), ("sort", 2.0),
            ("wc", 12.0), ("sort", 1.5)]
    assert stats.job_p50(jobs) == (11.0 + 1.5) / 2
    assert stats.job_p50([("curate", 3.0), ("curate", 5.0), ("curate", 4.0)]) == 4.0


def test_benchmark_json_meets_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workload_names_match_the_harness():
    import workloads

    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)


def _string_constants(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    return {n.value for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)}


def test_every_metric_printed_is_declared_and_every_declared_one_is_printed():
    spec = _spec()
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    found = _string_constants(os.path.join(HERE, "run.py"))
    found |= _string_constants(os.path.join(HERE, "workloads.py"))
    dotted = {s for s in found if re.fullmatch(r"[a-z]+(\.[a-z_]+)+", s)}
    assert dotted <= declared, sorted(dotted - declared)
    assert declared <= found, sorted(declared - found)


def test_result_refuses_undeclared_metrics():
    import run

    class _R:
        failed, attempted = 0, 3

    declared = _spec()["end_to_end"]
    good = {m["name"]: 1.5 for m in declared}
    out = run._result(_R(), good, declared)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(RuntimeError):
        run._result(_R(), good | {"extra_s": 1.0}, declared)


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_wordcount_sort",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_mr_checks_reject_wrong_outputs(tmp_path):
    import workloads

    wl = workloads.MrWordcountSort(str(tmp_path / "in"), 2, small=True)
    counts = sorted(((c, w) for w, c in wl.text["counts"].items()), reverse=True)
    good = tmp_path / "wc_ok"
    good.mkdir()
    (good / "part-00000").write_text("".join(f"{w},{c}\n" for c, w in counts))
    wl._check_wc(str(good))
    bad = tmp_path / "wc_bad"
    bad.mkdir()
    (bad / "part-00000").write_text("".join(f"{w},{c + 1}\n" for c, w in counts))
    with pytest.raises(workloads.CheckFailed):
        wl._check_wc(str(bad))

    vals = sorted(int(x) for name in sorted(os.listdir(wl.int_dir))
                  for x in open(os.path.join(wl.int_dir, name)).read().split())
    ok = tmp_path / "sort_ok"
    ok.mkdir()
    (ok / "part-00000").write_text("\n".join(map(str, vals)) + "\n")
    wl._check_sort(str(ok))
    swapped = vals[:]
    swapped[0], swapped[-1] = swapped[-1], swapped[0]
    (ok / "part-00000").write_text("\n".join(map(str, swapped)) + "\n")
    with pytest.raises(workloads.CheckFailed):
        wl._check_sort(str(ok))
