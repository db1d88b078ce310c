"""The benchmark workloads. Each drives the package only through its
public calls, checks every output against ``model.py`` and returns the
raw samples ``run.py`` turns into metrics.

- ``wro_service``: closed loop, one client, over a seeded cell stack: a
  read phase of overlay requests, then a write phase of keyed catalog
  edits, each committed as a snapshot.
- ``registry_mix``: passes over registry queries (streaming, MinHash
  dedup clusters, two relational controls and one catalog MERGE) on
  seeded corpus tables, each checked against its DuckDB oracle.
- ``training``: the first call of the registry rows that train a model
  (``q_ann_ivfpq``, ``q_bpe_train``) on the same tables.
- ``curate``: the full ``curate_corpus`` cascade on the same tables
  (kept out of BENCHMARK.json, see ``WORKLOADS``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from . import inputs, model
from .spans import Tracer

#: read-only registry queries of the mix, in pass order. None keeps
#: state between calls, so every pass does the same work.
MIX_QUERIES = (
    "q_stream_tumbling",
    "q_dedup_clusters",
    "q_tpch_q9",
    "q_agg_group",
)
#: the registry row that writes: a MERGE (upsert) into a fresh catalog
#: store, run once per pass after ``MIX_QUERIES``.
WRITE_QUERY = "q_catalog_merge"
#: fewest measured passes of a ``registry_mix`` run, after one untimed
#: warming pass.
MIN_PASSES = 1
#: registry rows that train a model (PQ codebooks, BPE merges) on their
#: first call in a process and serve a memo after it. The ``training``
#: workload times that first call, once per run.
TRAINING_QUERIES = ("q_ann_ivfpq", "q_bpe_train")

#: per-source cap of the curation's last stage; with 20 sources it binds
#: on the default corpus, so the domain-cap stage drops documents too.
DOCS_PER_SOURCE = 5

#: layers per overlay request: a read round issues one request of each.
OVERLAY_KS = (2, 3, 4)
#: the valid edit kinds: a write round issues one of each, in this order.
#: Equal shares, because no traffic mix of the service is known.
EDIT_ROUND = ("classify", "merge_nodata", "info", "merge_insert")
#: invalid edit -> the error code the tool must return. Every run issues
#: each once, before the write rounds.
EXPECTED_CODE = {
    "domain": "suitability_domain",
    "gap": "contiguity",
    "unknown_classify": "unknown_name",
    "bad_url": "invalid_url",
    "unknown_info": "unknown_name",
}
#: fewest rounds each ``wro_service`` phase measures: two read rounds,
#: so that the median request is not one request of one size.
MIN_READ_ROUNDS = 2
MIN_WRITE_ROUNDS = 1

#: committed snapshots kept by every catalog edit.
KEEP_HISTORY = 3


@dataclass
class Sizes:
    cells: int
    docs: int
    lineitem: int


SIZES = {
    "default": Sizes(cells=60_000, docs=500, lineitem=6_000),
    "tiny": Sizes(cells=2_000, docs=120, lineitem=600),
}


@dataclass
class Context:
    """One benchmark process: the seed, the session and the tracer."""

    seed: int
    seconds: float
    cores: int
    sizes: Sizes
    work_dir: str
    tracer: Tracer
    spark: object = None
    failures: list = field(default_factory=list)

    def start_session(self):
        from weighted_raster_overlay_service_toolbox_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=self.cores)
        self.tracer.attach(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.attach(None)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def record_failure(self, what: str, exc: BaseException) -> None:
        self.failures.append(f"{what}: {type(exc).__name__}: {exc}")


@dataclass
class Samples:
    """What a workload measured, before it becomes metrics."""

    read: list[float]  # seconds per timed read (request, pass, curation)
    write: list[float]  # seconds per timed write (committed edit, MERGE)
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


class Tally:
    """Counts attempted and failed operations of a run."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0

    def attempt(self, what: str, op) -> bool:
        """Run ``op``; a raise (a wrong output raises ``CheckFailed``) is
        a failed operation. Returns whether it succeeded."""
        self.attempted += 1
        try:
            op()
            return True
        except Exception as e:
            self.failed += 1
            self.ctx.record_failure(what, e)
            return False


# --------------------------------------------------------------------------
# WRO service: shared set-up, overlay requests
# --------------------------------------------------------------------------


@dataclass
class WroState:
    stack: inputs.CellStack
    cells: object  # DataFrame handle on the cell stack
    catalog_path: str
    catalog: model.CatalogModel


def wro_setup(ctx: Context) -> WroState:
    """Session, cell stack on disk, catalog built by ``create_wro_catalog``
    into a fresh store, NoData ranges merged onto two layers."""
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        append_rows,
        create_catalog,
        merge_rows,
    )
    from weighted_raster_overlay_service_toolbox_spark.toolbox import create_wro_catalog

    spark = ctx.start_session()
    stack = inputs.make_cells(ctx.seed, ctx.sizes.cells)
    cells_path = ctx.fresh_dir("cells")
    inputs.write_cells(stack, cells_path)
    cells = spark.read.parquet(cells_path)
    store = os.path.join(ctx.fresh_dir("store"), "catalog")
    layers = spark.createDataFrame(
        inputs.layer_rows(),
        "name string, title string, breaks array<double>, unique_values array<double>",
    )
    with ctx.tracer.span("toolbox.create_wro_catalog"):
        catalog, errors = create_wro_catalog(layers, cells)
        create_catalog(spark, store)
        append_rows(spark, store, catalog)
        errs = errors.collect()
    if errs:
        raise model.CheckFailed(f"create_wro_catalog reported {errs}")
    nodata = _nodata_updates(np.random.default_rng([ctx.seed, 3]), stack)
    with ctx.tracer.span("sources.merge_rows"):
        merge_rows(spark, store, _rows_df(spark, nodata))
    return WroState(stack, cells, store, None)


def _nodata_updates(rng, stack: inputs.CellStack) -> list[dict]:
    out = []
    for name in rng.choice(stack.names[:4], 2, replace=False):
        q = rng.uniform(0.1, 0.8)
        lo, hi = np.round(np.quantile(stack.layer_values(name), [q, q + 0.08]), 1)
        out.append({"Name": str(name), "NoDataRanges": f"{lo},{max(hi, lo + 0.1)}",
                    "NoDataRangeLabels": "No Data"})
    return out


def _rows_df(spark, rows: list[dict]):
    return spark.createDataFrame(
        [tuple(r.get(c) for c in model.CATALOG_COLUMNS) for r in rows],
        ", ".join(f"{c} string" for c in model.CATALOG_COLUMNS),
    )


def check_setup_catalog(ctx: Context, st: WroState) -> None:
    """The stored catalog after set-up against an independent model of
    the classification ``create_wro_catalog`` derives, then adopt it as
    the model the overlay checks decode."""
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        load_catalog,
    )

    rows = {r["Name"]: r.asDict() for r in load_catalog(ctx.spark, st.catalog_path).collect()}
    if sorted(rows) != sorted(st.stack.names):
        raise model.CheckFailed(f"catalog names {sorted(rows)}")
    nodata = {u["Name"]: u for u in
              _nodata_updates(np.random.default_rng([ctx.seed, 3]), st.stack)}
    for name, kind in inputs.LAYERS:
        row = rows[name]
        v = st.stack.layer_values(name)
        mn, mx = float(v.min()), float(v.max())
        if kind == "breaks":
            bounds = [mn] + inputs.RAINFALL_BREAKS[:-1] + [inputs.RAINFALL_BREAKS[-1] + 1]
            outs = [5] * len(inputs.RAINFALL_BREAKS)
        elif kind == "classes":
            bounds = inputs.LANDCOVER_CLASSES + [inputs.LANDCOVER_CLASSES[-1] + 1]
            outs = [5] * len(inputs.LANDCOVER_CLASSES)
        else:
            bounds = list(np.linspace(mn, mx, 6)[:-1]) + [mx + 1.0]
            outs = [1, 3, 5, 7, 9]
        ranges, _nodata = model.decode_ranges(row)
        got = [lo for lo, _h, _o in ranges] + [ranges[-1][1]]
        if [o for *_r, o in ranges] != outs or not np.allclose(got, bounds, rtol=1e-12):
            raise model.CheckFailed(f"{name}: ranges {ranges}, want bounds {bounds} outputs {outs}")
        want_nd = nodata.get(name, {}).get("NoDataRanges")
        if row["NoDataRanges"] != want_nd:
            raise model.CheckFailed(f"{name}: NoDataRanges {row['NoDataRanges']!r} want {want_nd!r}")
    st.catalog = model.CatalogModel(list(rows.values()))


def random_weights(rng, names: list[str], k: int) -> dict[str, int]:
    """``k`` of the layers with integer percent weights summing to 100."""
    picked = rng.choice(names, k, replace=False)
    cuts = np.sort(rng.choice(np.arange(1, 100), k - 1, replace=False))
    parts = np.diff(np.concatenate([[0], cuts, [100]]))
    return {str(n): int(w) for n, w in zip(picked, parts)}


def overlay_request(ctx: Context, st: WroState, weights: dict[str, int]) -> list:
    """One service request: load the catalog, build and run the overlay,
    fetch the score histogram."""
    from weighted_raster_overlay_service_toolbox_spark.plans.overlay import run_overlay
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        load_catalog,
    )

    tr = ctx.tracer
    with tr.span("sources.load_catalog"):
        cat = load_catalog(ctx.spark, st.catalog_path)
    with tr.span("plans.run_overlay", sum_children=True):
        with tr.span("plans.run_overlay.build"):
            hist = run_overlay(st.cells, cat, weights).groupBy("score").count()
        with tr.span("plans.run_overlay.exec"):
            rows = hist.collect()
    return [(r["score"], r["count"]) for r in rows]


def check_overlay(st: WroState, weights, rows, what: str) -> None:
    want = model.overlay_histogram(st.stack, st.catalog.rows, weights)
    model.check_histogram(model.histogram_of(rows), want, what)


# --------------------------------------------------------------------------
# catalog edits
# --------------------------------------------------------------------------


def _classification(rng, v: np.ndarray, valid: str):
    """A ranges table for one layer. ``valid``: 'ok' (contiguous, covers
    the data), 'domain' (an output outside 0-9) or 'gap' (not
    contiguous)."""
    mn, mx = float(v.min()), float(v.max())
    n = int(rng.integers(3, 7))
    cuts = sorted(set(np.round(rng.uniform(mn, mx, n - 1), 2).tolist()) - {mn})
    lo0 = mn if rng.random() < 0.75 else float(np.floor(mn)) - 5.0
    bounds = [lo0] + cuts + [float(np.floor(mx)) + 1.0]
    outs = rng.integers(0, 10, len(bounds) - 1).tolist()
    labels = [f"class {i}" if i % 3 else f"band {i}, sub" for i in range(len(outs))]
    rows = [(labels[i], bounds[i], bounds[i + 1], int(outs[i])) for i in range(len(outs))]
    if valid == "domain":
        i = int(rng.integers(0, len(rows)))
        rows[i] = rows[i][:3] + (12,)
    elif valid == "gap":
        lab, lo, hi, o = rows[-1]
        rows[-1] = (lab, lo + 0.5, hi, o)
    return rows


def _edit_plan(rng, names: list[str], kind: str, i: int, bad: str | None = None) -> dict:
    """The ``i``-th edit (0-based) of the run, of ``kind`` (an
    ``EDIT_ROUND`` kind, or ``invalid`` with ``bad`` an ``EXPECTED_CODE``
    key); the seed picks the layer and the values."""
    name = str(rng.choice(names))
    if kind == "classify":
        return {"kind": kind, "name": name}
    if kind == "info":
        def field(text):
            r = rng.random()
            return None if r < 0.3 else ("" if r < 0.4 else text)
        return {"kind": kind, "name": name, "title": field(f"{name} rev {i}"),
                "description": field(f"edited by step {i}"),
                "url": field(f"https://example.com/{name}/{i}"),
                "metadata": field(f"unit:v{i}")}
    if kind == "merge_nodata":
        lo = float(np.round(rng.uniform(0, 900), 1))
        rows = [{"Name": name, "NoDataRanges": f"{lo},{lo + 25.0}",
                 "NoDataRangeLabels": "No Data"}]
        return {"kind": "merge", "rows": rows}
    if kind == "merge_insert":
        rows = [{"Name": f"extra_{i}", "Title": f"Extra {i}",
                 "Description": "metadata-only layer", "dataset_id": f"ds_extra_{i}"}]
        return {"kind": "merge", "rows": rows}
    return {"kind": "invalid", "bad": bad, "name": name}


def _apply_edit(ctx: Context, st: WroState, plan: dict, rng):
    """Run one edit through the toolbox and commit it. Returns
    ``(errors rows, returned catalog or None, expected model)``."""
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        load_catalog,
        merge_rows,
        replace_catalog,
    )
    from weighted_raster_overlay_service_toolbox_spark.toolbox import (
        update_classification,
        update_layer_info,
    )

    spark, tr = ctx.spark, ctx.tracer
    want = st.catalog.copy()
    kind = plan["kind"]
    if kind == "merge":
        with tr.span("sources.merge_rows"):
            merge_rows(spark, st.catalog_path, _rows_df(spark, plan["rows"]),
                       keep_history=KEEP_HISTORY)
        want.merge(plan["rows"])
        return [], None, want
    with tr.span("sources.load_catalog"):
        cat = load_catalog(spark, st.catalog_path)
    bad = plan.get("bad")
    name = plan["name"] if bad not in ("unknown_classify", "unknown_info") else "no_such_layer"
    if kind == "classify" or bad in ("domain", "gap", "unknown_classify"):
        v = st.stack.layer_values(plan["name"])
        ranges = _classification(rng, v, bad if bad in ("domain", "gap") else "ok")
        ranges_df = spark.createDataFrame(ranges, "label string, lo double, hi double, out int")
        with tr.span("toolbox.update_classification"):
            updated, errors = update_classification(cat, name, ranges_df, cells_df=st.cells)
            errs = errors.collect()
        if not bad:
            want.classify(name, ranges, float(v.min()))
    else:
        fields = {k: plan.get(k) for k in ("title", "description", "url", "metadata")}
        if bad == "bad_url":
            fields = {"url": f"ftp://example.com/{plan['name']}"}
        with tr.span("toolbox.update_layer_info"):
            updated, errors = update_layer_info(cat, name, **fields)
            errs = errors.collect()
        if not bad:
            want.layer_info(name, **fields)
    if bad:
        return errs, updated, want
    with tr.span("sources.replace_catalog") as rec:
        replace_catalog(st.catalog_path, updated, keep_history=KEEP_HISTORY)
    if rec is not None:
        files = [f for f in os.listdir(st.catalog_path) if f.endswith(".parquet")]
        rec["attrs"]["files"] = len(files)
        rec["attrs"]["bytes_written"] = sum(
            os.path.getsize(os.path.join(st.catalog_path, f)) for f in files
        )
    return errs, None, want


def _check_edit(ctx: Context, st: WroState, plan, errs, returned, want, commits, what):
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_versions,
        load_catalog,
    )

    codes = [(e["severity"], e["code"]) for e in errs]
    bad = plan.get("bad")
    if bad:
        if ("error", EXPECTED_CODE[bad]) not in codes:
            raise model.CheckFailed(f"{what}: invalid edit {bad} not rejected: {codes}")
        model.check_catalog([r.asDict() for r in returned.collect()], want,
                            f"{what}: catalog returned with the rejection")
    elif any(sev == "error" for sev, _c in codes):
        raise model.CheckFailed(f"{what}: valid edit rejected: {codes}")
    stored = [r.asDict() for r in load_catalog(ctx.spark, st.catalog_path).collect()]
    model.check_catalog(stored, want, what)
    versions = catalog_versions(st.catalog_path)
    if len(versions) != min(commits, KEEP_HISTORY):
        raise model.CheckFailed(f"{what}: {len(versions)} snapshots kept after {commits} commits")


def wro_service(ctx: Context, st: WroState) -> Samples:
    """One client in a closed loop, in two phases over one catalog.

    - read: rounds of overlay requests, one per ``OVERLAY_KS`` size, for
      half the run time and at least ``MIN_READ_ROUNDS`` rounds;
    - write: each invalid edit of ``EXPECTED_CODE`` once (checked but not
      timed: they commit nothing), then rounds of one valid edit per
      ``EDIT_ROUND`` kind, for the other half of the run time and at
      least ``MIN_WRITE_ROUNDS`` rounds. Each valid edit is committed as a
      snapshot and the stored catalog is checked after it; each round
      ends with a read-after-write overlay request, checked, not timed.

    A first request, checked but not timed, lets the JVM compile the
    overlay path. Every request is checked against the numpy model of
    the current catalog."""
    check_setup_catalog(ctx, st)
    rng = np.random.default_rng([ctx.seed, 4])
    names = st.stack.names
    tally = Tally(ctx)
    reads, writes = [], []
    seen = Counter()  # edit kind or rejected code -> times checked
    commits = 0

    def request(k: int, root: str, into: list | None) -> None:
        weights = random_weights(rng, names, k)

        def op():
            t0 = time.perf_counter()
            with ctx.tracer.span(root):
                rows = overlay_request(ctx, st, weights)
            took = time.perf_counter() - t0
            check_overlay(st, weights, rows, f"{root} {weights}")
            seen[f"k={k}"] += 1
            if into is not None:
                into.append(took)

        tally.attempt(f"{root} {weights}", op)

    def edit(plan: dict, label: str) -> None:
        bad = plan.get("bad")

        def op():
            nonlocal commits
            t0 = time.perf_counter()
            with ctx.tracer.span("catalog.rejected_edit" if bad else "catalog.edit"):
                errs, returned, want = _apply_edit(ctx, st, plan, rng)
            took = time.perf_counter() - t0
            commits += 0 if bad else 1
            _check_edit(ctx, st, plan, errs, returned, want, commits, f"edit {label}")
            st.catalog = want
            seen[label] += 1
            if not bad:
                writes.append(took)

        if not tally.attempt(f"edit {label}", op):
            st.catalog = _reload_model(ctx, st)  # continue from what the store holds

    def rounds(body, min_rounds: int) -> int:
        start, n = time.perf_counter(), 0
        while n < min_rounds or time.perf_counter() - start < ctx.seconds / 2:
            body(n)
            n += 1
        return n

    request(max(OVERLAY_KS), "overlay.warmup", None)
    read_rounds = rounds(lambda n: [request(k, "overlay.request", reads) for k in OVERLAY_KS],
                         MIN_READ_ROUNDS)
    i = 0
    for bad in EXPECTED_CODE:
        edit(_edit_plan(rng, names, "invalid", i, bad), bad)
        i += 1

    def write_round(n: int) -> None:
        nonlocal i
        for kind in EDIT_ROUND:
            edit(_edit_plan(rng, names, kind, i), kind)
            i += 1
        request(OVERLAY_KS[n % len(OVERLAY_KS)], "overlay.after_edit", None)

    write_rounds = rounds(write_round, MIN_WRITE_ROUNDS)
    extra = {"rounds": f"read {read_rounds}, write {write_rounds}",
             "checked": " ".join(f"{k}:{v}" for k, v in sorted(seen.items()))}
    return Samples(reads, writes, tally.attempted, tally.failed, extra)


def _reload_model(ctx: Context, st: WroState) -> model.CatalogModel:
    """After a failed edit, continue from what the store holds."""
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        load_catalog,
    )

    return model.CatalogModel(
        [r.asDict() for r in load_catalog(ctx.spark, st.catalog_path).collect()]
    )


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median (fewer than 20 samples report the median)."""
    if not xs:
        return 0.0, 50
    pct = max(50, int(100 * (1 - 10 / len(xs))))
    return float(np.percentile(xs, pct)), pct


# --------------------------------------------------------------------------
# corpus curation + registry mix
# --------------------------------------------------------------------------


@dataclass
class CorpusState:
    sf_dir: str
    doc_ids: set
    oracle: dict = field(default_factory=dict)


def corpus_setup(ctx: Context) -> CorpusState:
    """Session, corpus tables on disk, the event stream staged."""
    from weighted_raster_overlay_service_toolbox_spark.streaming.engine import (
        stage_event_files,
    )

    spark = ctx.start_session()
    sf_dir = os.path.join(ctx.fresh_dir("corpus"), "sf")
    inputs.write_corpus(ctx.seed, sf_dir, ctx.sizes.docs, ctx.sizes.lineitem)
    with ctx.tracer.span("streaming.engine.stage"):
        stage_event_files(spark, sf_dir, "tumbling")
    return CorpusState(sf_dir, set(range(ctx.sizes.docs)))


def corpus_oracle(st: CorpusState, queries) -> None:
    """Row count and hash of each query from its DuckDB oracle."""
    import duckdb

    from weighted_raster_overlay_service_toolbox_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for table in os.listdir(st.sf_dir):
            if table.endswith(".parquet"):
                path = os.path.join(st.sf_dir, table).replace("'", "''")
                con.execute(f"CREATE VIEW {table[:-8]} AS SELECT * FROM '{path}'")
        for q in queries:
            cur = con.execute(ORACLES[q])
            cols = [d[0] for d in cur.description]
            st.oracle[q] = model.result_digest(cols, cur.fetchall())
    finally:
        con.close()


def _curate(ctx: Context, st: CorpusState):
    """``curate_corpus`` with the full cascade: quality, exact and
    MinHash near-dup, image near-dup over PPM payloads, embedding
    decontamination against the ``src0`` eval suite and a per-source cap
    (the knobs of the repository's scaling probe)."""
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.multimodal import ppm_payload
    from weighted_raster_overlay_service_toolbox_spark.pipeline import curate_corpus

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("pipeline.curate_corpus", sum_children=True):
        with tr.span("pipeline.curate_corpus.build"):
            d = spark.read.parquet(os.path.join(st.sf_dir, "documents.parquet"))
            docs = d.select(
                "doc_id", "text", "source",
                ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
                ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
            ).select("doc_id", "text", "source", ppm_payload("w", "h", "text").alias("payload"))
            emb = spark.read.parquet(os.path.join(st.sf_dir, "embeddings.parquet")).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e"))
            ev = d.filter(F.col("source") == "src0").select("doc_id")
            kept, dropped, stats = curate_corpus(
                docs, min_tokens=5, near_dup=True, near_dup_exact_jaccard=0.9,
                near_dup_bands=2, image_payload_col="payload", image_hamming_radius=1,
                image_bands=8, embeddings=emb, eval_ids=ev, docs_per_source=DOCS_PER_SOURCE,
            )
        with tr.span("pipeline.curate_corpus.exec"):
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
            dropped_rows = [(r[0], r[1]) for r in dropped.collect()]
            stat_rows = {r[0]: r[1] for r in stats.collect()}
    return kept_ids, dropped_rows, stat_rows


def _run_query(ctx: Context, st: CorpusState, q: str):
    """One registry call and its collected rows, checked against the
    oracle; returns the seconds from the call to the rows."""
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span(f"queries.{q}", sum_children=True):
        with tr.span(f"queries.{q}.build"):
            df = QUERIES[q](ctx.spark, st.sf_dir)
        with tr.span(f"queries.{q}.exec"):
            rows = df.collect()
    took = time.perf_counter() - t0
    got = model.result_digest(df.columns, rows)
    if got != st.oracle[q]:
        raise model.CheckFailed(f"{q}: {got} != oracle {st.oracle[q]}")
    return took


def _query_passes(ctx: Context, st: CorpusState, reads, writes, min_passes: int,
                  max_passes: int | None, warmup: bool) -> Samples:
    """Passes over ``reads`` then ``writes``: with ``warmup``, first one
    checked but untimed pass, then at least ``min_passes``, more while
    another pass should end within the run time, at most ``max_passes``.
    A read sample is one pass over ``reads``; a write sample is one call.
    A query's time runs from the registry call to the collected rows, and
    every result is checked against its oracle."""
    queries = tuple(reads) + tuple(writes)
    corpus_oracle(st, queries)
    tally = Tally(ctx)
    passes, read_s, write_s = [], [], []
    per_query: dict[str, list[float]] = {q: [] for q in queries}

    def one_pass(root: str) -> dict[str, float]:
        took = {}
        with ctx.tracer.span(root):
            for q in queries:
                tally.attempt(q, lambda: took.__setitem__(q, _run_query(ctx, st, q)))
        return took

    def another() -> bool:
        if len(passes) < min_passes:
            return True
        if max_passes is not None and len(passes) >= max_passes:
            return False
        return time.perf_counter() - start + passes[-1] <= ctx.seconds

    if warmup:
        one_pass("registry.warmup")
    start = time.perf_counter()
    while another():
        took = one_pass("registry.pass")
        passes.append(sum(took.values()))
        if len(took) == len(queries):  # a failed query leaves no sample
            read_s.append(sum(took[q] for q in reads))
            write_s.extend(took[q] for q in writes)
        for q, t in took.items():
            per_query[q].append(t)
    extra = {f"{q}_s": " ".join(f"{t:.3f}" for t in ts) for q, ts in per_query.items()}
    return Samples(read_s, write_s, tally.attempted, tally.failed, extra)


def registry_mix(ctx: Context, st: CorpusState) -> Samples:
    return _query_passes(ctx, st, MIX_QUERIES, (WRITE_QUERY,), MIN_PASSES, None, True)


def training(ctx: Context, st: CorpusState) -> Samples:
    """One pass over ``TRAINING_QUERIES``: the first call trains."""
    return _query_passes(ctx, st, TRAINING_QUERIES, (), 1, 1, False)


def curate(ctx: Context, st: CorpusState) -> Samples:
    """Full curations until the run time is used, at least one; kept and
    dropped must partition the input, and the stats must count them and
    repeat exactly."""
    durations, failed, stats_seen = [], 0, []
    start = time.perf_counter()
    while not durations or time.perf_counter() - start < ctx.seconds:
        t0 = time.perf_counter()
        try:
            out = _curate(ctx, st)
            durations.append(time.perf_counter() - t0)
            model.check_curation(st.doc_ids, *out)
            stats_seen.append(out[2])
            if stats_seen[0] != out[2]:
                raise model.CheckFailed(f"curation stats changed: {stats_seen[0]} -> {out[2]}")
        except Exception as e:
            failed += 1
            ctx.record_failure("curate_corpus", e)
            durations.append(time.perf_counter() - t0)
    return Samples(durations, [], len(durations), failed,
                   {"curate_docs_per_s": f"{len(st.doc_ids) * len(durations) / sum(durations):.6g}",
                    "curate_stats": stats_seen[:1]})


#: workload name -> (set-up, measurement, root spans for attribution).
#: ``curate`` and ``training`` are not in BENCHMARK.json: a ``curate`` run
#: takes over two minutes on a 4-vCPU host, more than the benchmark's time
#: budget allows per run, and ``training`` times each query once per
#: process, a single sample whose spread across runs (about a fifth of
#: its median) is too wide for a bound.
WORKLOADS = {
    "wro_service": (wro_setup, wro_service, ("overlay.request", "catalog.edit")),
    "registry_mix": (corpus_setup, registry_mix, ("registry.pass",)),
    "curate": (corpus_setup, curate, ("pipeline.curate_corpus",)),
    "training": (corpus_setup, training, ("registry.pass",)),
}
