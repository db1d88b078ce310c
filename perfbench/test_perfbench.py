"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The checker tests are pure Python. The run tests start Spark: each runs
a workload at the tiny size and needs a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

from perfbench import inputs, model, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _catalog_for(stack: inputs.CellStack) -> dict[str, dict]:
    rows = {}
    for name in stack.names:
        v = stack.layer_values(name)
        bounds = np.linspace(v.min(), v.max(), 6).tolist()
        bounds[-1] = float(v.max()) + 1.0
        rows[name] = {
            "Name": name,
            "InputRanges": ",".join(str(x) for lo, hi in zip(bounds, bounds[1:]) for x in (lo, hi)),
            "OutputValues": "1,3,5,7,9",
            "NoDataRanges": None,
        }
    return rows


def test_benchmark_json_names_what_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == [u for u, _a in run.END_TO_END.values()]
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert [m["unit"] for m in spec["per_layer"]] == [run.unit_of(m) for m in run.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert run._MIX == workloads.MIX_QUERIES + (workloads.WRITE_QUERY,)
    assert run._TRAINING == workloads.TRAINING_QUERIES
    # every workload prints every per-layer metric: only times every
    # workload measures may carry seconds
    assert [m for m in run.PER_LAYER if run.unit_of(m) == "s"] == ["session.get_spark.wall_s"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] for m in spec["end_to_end"])


def test_overlay_check_rejects_a_changed_weight():
    stack = inputs.make_cells(7, 500)
    catalog = _catalog_for(stack)
    weights = {"slope": 40, "elevation": 60}
    got = model.overlay_histogram(stack, catalog, weights)
    model.check_histogram(got, model.overlay_histogram(stack, catalog, dict(weights)), "same")
    with pytest.raises(model.CheckFailed):
        model.check_histogram(got, model.overlay_histogram(
            stack, catalog, {"slope": 41, "elevation": 59}), "perturbed")


def test_overlay_model_knocks_out_nodata_cells():
    stack = inputs.make_cells(7, 500)
    catalog = _catalog_for(stack)
    v = stack.layer_values("slope")
    catalog["slope"]["NoDataRanges"] = f"{v.min()},{np.median(v)}"
    hist = model.overlay_histogram(stack, catalog, {"slope": 100})
    assert hist[None] == int((v < np.median(v)).sum())
    assert sum(hist.values()) == v.size


def test_histogram_of_reads_spark_rows():
    assert model.histogram_of([(300.0, 2), (None, 1)]) == Counter({300: 2, None: 1})
    with pytest.raises(model.CheckFailed):
        model.histogram_of([(300.5, 1)])


def _edited_model(edits):
    cat = model.CatalogModel([{"Name": "slope", "Title": "Slope"},
                              {"Name": "soil_ph", "Title": "Soil"}])
    for apply in edits:
        apply(cat)
    return cat


EDITS = [
    lambda c: c.classify("slope", [("low", 0.0, 5.0, 2), ("high, steep", 5.0, 91.0, 8)], 0.0),
    lambda c: c.layer_info("soil_ph", title="pH", url="", metadata="unit:pH"),
    lambda c: c.merge([{"Name": "extra_1", "Title": "Extra"},
                       {"Name": "slope", "NoDataRanges": "1.0,2.0"}]),
]


def test_catalog_check_rejects_a_dropped_edit():
    full = _edited_model(EDITS)
    stored = [dict(r) for r in full.rows.values()]
    model.check_catalog(stored, full, "all edits")
    for i in range(len(EDITS)):
        dropped = _edited_model(EDITS[:i] + EDITS[i + 1:])
        with pytest.raises(model.CheckFailed):
            model.check_catalog(stored, dropped, f"edit {i} dropped")


def test_catalog_model_follows_the_toolbox_rules():
    cat = _edited_model(EDITS)
    slope = cat.rows["slope"]
    assert slope["InputRanges"] == "0.0,5.0,5.0,91.0"
    assert slope["RangeLabels"] == 'low,"high, steep"'
    assert slope["NoDataRanges"] == "1.0,2.0" and slope["Title"] == "Slope"
    assert cat.rows["soil_ph"]["Url"] is None and cat.rows["soil_ph"]["Title"] == "pH"
    snapped = model.CatalogModel([{"Name": "a"}])
    assert snapped.classify("a", [("x", -5.0, 3.0, 1), ("y", 3.0, 9.0, 2)], 0.25)
    assert snapped.rows["a"]["InputRanges"] == "0.25,3.0,3.0,9.0"


def test_result_digest_rejects_a_removed_row():
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 0.1)]
    assert model.result_digest(cols, rows) == model.result_digest(cols, rows[::-1])
    assert model.result_digest(cols, rows) == model.result_digest(
        ["v", "k"], [(v, k) for k, v in rows])
    assert model.result_digest(cols, rows) != model.result_digest(cols, rows[:-1])
    assert model.result_digest(["k"], [(1,)]) != model.result_digest(["k"], [(1.0,)])


def test_curation_check_rejects_a_removed_row():
    ids = set(range(6))
    kept, dropped = [0, 2, 5], [(1, "duplicate"), (3, "too_short"), (4, "duplicate")]
    stats = {"kept": 3, "duplicate": 2, "too_short": 1}
    model.check_curation(ids, kept, dropped, stats)
    with pytest.raises(model.CheckFailed):
        model.check_curation(ids, kept[:-1], dropped, stats)
    with pytest.raises(model.CheckFailed):
        model.check_curation(ids, kept, dropped + [(5, "duplicate")], stats)
    with pytest.raises(model.CheckFailed):
        model.check_curation(ids, kept, dropped, {**stats, "kept": 4})


def test_inputs_repeat_for_a_seed(tmp_path):
    a, b = inputs.make_cells(3, 100), inputs.make_cells(3, 100)
    assert np.array_equal(a.values, b.values)
    assert not np.array_equal(a.values, inputs.make_cells(4, 100).values)
    inputs.write_corpus(3, str(tmp_path / "x"), 50, 200)
    inputs.write_corpus(3, str(tmp_path / "y"), 50, 200)
    for name in os.listdir(tmp_path / "x"):
        import pyarrow.parquet as pq

        assert pq.read_table(tmp_path / "x" / name).equals(pq.read_table(tmp_path / "y" / name))


@pytest.mark.parametrize("seed", [3, 4])
def test_near_duplicate_clusters_are_the_planted_chains(tmp_path, seed):
    import pyarrow.parquet as pq

    inputs.write_corpus(seed, str(tmp_path), 500, 200)
    docs = [set(t.split()) for t in
            pq.read_table(tmp_path / "documents.parquet")["text"].to_pylist()]
    parent = list(range(len(docs)))

    def root(i):
        while parent[i] != i:
            i = parent[i]
        return i

    edges = 0
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            if len(docs[a] & docs[b]) >= 0.9 * len(docs[a] | docs[b]):
                edges += 1
                parent[root(b)] = root(a)
    sizes = Counter(root(i) for i in range(len(docs)))
    assert sorted(n for n in sizes.values() if n > 1) == sorted(inputs.NEAR_DUP_CHAINS)
    assert edges == sum(n - 1 for n in inputs.NEAR_DUP_CHAINS)  # chains, not cliques


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert workloads.tail([1.0] * 5 + [2.0] * 5)[1] == 50
    value, pct = workloads.tail(list(range(1, 101)))
    assert pct == 90 and value == pytest.approx(90.1)


def _run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_refuses_more_cpus_than_processors():
    out = _run(["--workload", "wro_service", "--seed", "1", "--seconds", "1",
                "--cpus", str(len(os.sched_getaffinity(0)) + 1)], timeout=60)
    assert out.returncode == 2 and out.stdout == ""


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "wro_service", "--seed", "1", "--seconds", "1"],
               cwd=tmp_path, timeout=120)
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize("workload,trace", [("wro_service", 1), ("registry_mix", 0),
                                            ("curate", 0), ("training", 0)])
def test_workload_runs_correctly_at_tiny_size(workload, trace):
    out = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace",
                str(trace), "--size", "tiny"])
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    gated = workload in ("wro_service", "registry_mix")
    e2e = [m for m in run.END_TO_END if gated or m != "write_p50_s"]
    assert list(result["metrics"]) == (run.PER_LAYER if trace else e2e)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["plans.run_overlay.jobs"]["value"] > 0
        assert result["metrics"]["toolbox.update_layer_info.jobs"]["value"] > 0
    if workload == "wro_service":
        checked = _checked(out.stdout)
        want = ({f"k={k}" for k in workloads.OVERLAY_KS} | set(workloads.EDIT_ROUND)
                | set(workloads.EXPECTED_CODE))
        assert want <= set(checked), checked
        assert all(checked[kind] >= workloads.MIN_WRITE_ROUNDS for kind in workloads.EDIT_ROUND)


def _checked(stdout: str) -> dict[str, int]:
    """The ``checked`` summary line of a ``wro_service`` run: request
    sizes, edit kinds and rejected invalid edits, each with its count."""
    line = next(x for x in stdout.splitlines() if x.startswith("wro_service checked "))
    return {k: int(v) for k, v in (x.split(":") for x in line.split()[2:])}


def test_compare_verdicts_follow_the_pair_rule():
    from perfbench.compare import verdict

    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    assert verdict(parent, [x * 0.8 for x in parent], "lower", 0.1) == "improved"
    assert verdict(parent, [x * 1.3 for x in parent], "lower", 0.1) == "worse"
    assert verdict(parent, [x * 1.02 for x in parent], "lower", 0.1) == "within bound"
    noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
    assert verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1) == "unresolved"
    assert verdict(parent, [x * 1.3 for x in parent], "higher", 0.1) == "improved"


def test_layer_metrics_count_operation_calls_apart_from_setup():
    from perfbench.spans import layer_metrics

    def span(i, name, parent, start, end, jobs=0):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
                "attrs": {}, "spark": {"jobs": jobs}, "trace_cost_s": 0.0}

    spans = [
        span(0, "session.get_spark", None, 0.0, 2.0),
        span(1, "sources.merge_rows", None, 2.0, 5.0, jobs=9),  # set-up merge
        span(2, "catalog.edit", None, 10.0, 11.0),
        span(3, "sources.merge_rows", 2, 10.0, 10.5, jobs=5),
        span(4, "overlay.request", None, 11.0, 12.0),
    ]
    m = layer_metrics(spans, 4, ["sources.merge_rows.share", "sources.merge_rows.jobs",
                                 "sources.merge_rows.wall_s", "session.get_spark.wall_s",
                                 "toolbox.update_layer_info.share"],
                      ("overlay.request", "catalog.edit"), 5.0)
    assert m["sources.merge_rows.share"] == pytest.approx(0.25)
    assert m["sources.merge_rows.jobs"] == 5 and m["sources.merge_rows.wall_s"] == 0.5
    assert m["session.get_spark.wall_s"] == 2.0
    assert m["toolbox.update_layer_info.share"] == 0.0
