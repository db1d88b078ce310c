"""Reference models and output checks, independent of the package.

Nothing here imports the package under test: the catalog decoder, the
overlay model and the catalog edit model are re-derived from the WRO
contract (half-open ranges ``[lo, hi)`` remapped to 0-9, weighted sum,
NoData knockout, keyed catalog edits), so a wrong answer from the package
cannot also be the expected answer.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import numpy as np

CATALOG_COLUMNS = (
    "Name", "Title", "Description", "Url", "InputRanges", "NoDataRanges",
    "RangeLabels", "NoDataRangeLabels", "OutputValues", "Metadata",
    "dataset_id",
)


class CheckFailed(AssertionError):
    """An output did not match its model."""


# --------------------------------------------------------------------------
# overlay
# --------------------------------------------------------------------------


def decode_ranges(row: dict) -> tuple[list[tuple[float, float, int]], list[tuple[float, float]]]:
    """A catalog row's CSV classification -> ``(lo, hi, out)`` triples and
    NoData ``(lo, hi)`` pairs."""
    bounds = [float(x) for x in row["InputRanges"].split(",")]
    outs = [int(x) for x in row["OutputValues"].split(",")]
    if len(bounds) != 2 * len(outs):
        raise CheckFailed(f"{row['Name']}: {len(bounds)} bounds for {len(outs)} outputs")
    ranges = [(bounds[2 * i], bounds[2 * i + 1], outs[i]) for i in range(len(outs))]
    nodata = []
    if row.get("NoDataRanges"):
        nd = [float(x) for x in row["NoDataRanges"].split(",")]
        nodata = [(nd[2 * i], nd[2 * i + 1]) for i in range(len(nd) // 2)]
    return ranges, nodata


def remap(values: np.ndarray, ranges) -> np.ndarray:
    """Suitability per cell; -1 where no range matches (a NULL score)."""
    out = np.full(values.shape, -1, dtype=np.int64)
    for lo, hi, o in reversed(ranges):  # first matching range wins
        out[(values >= lo) & (values < hi)] = o
    return out


def overlay_histogram(stack, catalog: dict[str, dict], weights: dict[str, int]) -> Counter:
    """``score -> cell count`` of the weighted overlay; ``None`` counts
    knocked-out cells and cells some layer does not classify."""
    total = np.zeros(stack.values.shape[1], dtype=np.int64)
    null = np.zeros(stack.values.shape[1], dtype=bool)
    for name, w in weights.items():
        ranges, nodata = decode_ranges(catalog[name])
        v = stack.layer_values(name)
        suit = remap(v, ranges)
        null |= suit < 0
        for lo, hi in nodata:
            null |= (v >= lo) & (v < hi)
        total += w * suit
    hist = Counter(total[~null].tolist())
    if null.any():
        hist[None] = int(null.sum())
    return hist


def histogram_of(rows) -> Counter:
    """Spark ``(score, count)`` rows -> the model's Counter form; scores
    are exact integers because the weights are."""
    out = Counter()
    for score, n in rows:
        key = None
        if score is not None:
            if score != math.floor(score):
                raise CheckFailed(f"non-integer overlay score {score}")
            key = int(score)
        out[key] += n
    return out


def check_histogram(got: Counter, want: Counter, what: str) -> None:
    if got != want:
        diff = {k: (got.get(k, 0), want.get(k, 0)) for k in set(got) | set(want)
                if got.get(k, 0) != want.get(k, 0)}
        raise CheckFailed(f"{what}: histogram differs at {len(diff)} scores, "
                          f"e.g. {sorted(diff.items(), key=str)[:3]}")


# --------------------------------------------------------------------------
# catalog edits
# --------------------------------------------------------------------------


def csv_field(v) -> str:
    """RFC-4180 field: strip, quote when it holds a comma or quote."""
    s = "" if v is None else str(v).strip()
    if "," in s or '"' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


class CatalogModel:
    """The expected catalog: ``Name -> row dict`` over every column."""

    def __init__(self, rows: list[dict]):
        self.rows = {r["Name"]: {c: r.get(c) for c in CATALOG_COLUMNS} for r in rows}

    def copy(self) -> "CatalogModel":
        return CatalogModel([dict(r) for r in self.rows.values()])

    def classify(self, name: str, ranges: list[tuple[str, float, float, int]],
                 data_min: float) -> bool:
        """Apply a valid classification edit; returns whether the first
        range minimum snapped to the data minimum."""
        ranges = sorted(ranges, key=lambda r: r[1])
        snapped = str(float(ranges[0][1])) != str(float(data_min))
        if snapped:
            label, _lo, hi, out = ranges[0]
            ranges[0] = (label, float(data_min), hi, out)
        row = self.rows[name]
        row["InputRanges"] = ",".join(
            str(float(x)) for _l, lo, hi, _o in ranges for x in (lo, hi)
        )
        row["OutputValues"] = ",".join(str(o) for *_r, o in ranges)
        row["RangeLabels"] = ",".join(csv_field(label) for label, *_r in ranges)
        return snapped

    def layer_info(self, name: str, **fields) -> None:
        col = {"title": "Title", "description": "Description", "url": "Url",
               "metadata": "Metadata"}
        for key, value in fields.items():
            if value is not None:
                self.rows[name][col[key]] = value if value != "" else None

    def merge(self, updates: list[dict]) -> None:
        for u in updates:
            row = self.rows.setdefault(u["Name"], {c: None for c in CATALOG_COLUMNS})
            for c in CATALOG_COLUMNS:
                if u.get(c) is not None:
                    row[c] = u[c]


def check_catalog(got_rows: list[dict], model: CatalogModel, what: str) -> None:
    got = {}
    for r in got_rows:
        if r["Name"] in got:
            raise CheckFailed(f"{what}: duplicate catalog row {r['Name']!r}")
        got[r["Name"]] = {c: r.get(c) for c in CATALOG_COLUMNS}
    if got != model.rows:
        names = sorted(set(got) | set(model.rows))
        bad = [n for n in names if got.get(n) != model.rows.get(n)]
        n = bad[0]
        raise CheckFailed(f"{what}: {len(bad)} catalog rows differ; {n!r}: "
                          f"got {got.get(n)} want {model.rows.get(n)}")


# --------------------------------------------------------------------------
# registry results
# --------------------------------------------------------------------------


def _canon(v):
    """One result cell in a form both engines agree on: ints and floats
    are tagged apart, floats compare by their exact bits, dates and
    timestamps by ISO text, decimals by their value."""
    if v is None:
        return ("n",)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", v.hex())
    if isinstance(v, Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("t", datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("x", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return ("m",) + tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    return ("s", str(v))


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """``(row count, order-insensitive hash)`` of a result set; columns
    are matched by name, so the two engines may order them differently."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(repr(tuple(_canon(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


# --------------------------------------------------------------------------
# corpus curation
# --------------------------------------------------------------------------


def check_curation(input_ids: set, kept_ids: list, dropped: list[tuple], stats: dict) -> None:
    """kept and dropped partition the input, and the stats count them."""
    kept = set(kept_ids)
    dropped_ids = [d for d, _ in dropped]
    if len(kept) != len(kept_ids):
        raise CheckFailed("curation: a document is kept twice")
    if len(set(dropped_ids)) != len(dropped_ids):
        raise CheckFailed("curation: a document is dropped twice")
    if kept & set(dropped_ids):
        raise CheckFailed("curation: kept and dropped overlap")
    if kept | set(dropped_ids) != input_ids:
        missing = len(input_ids - kept - set(dropped_ids))
        extra = len((kept | set(dropped_ids)) - input_ids)
        raise CheckFailed(f"curation: kept+dropped miss {missing} inputs, add {extra}")
    want = Counter(r for _, r in dropped)
    want["kept"] = len(kept)
    if {k: v for k, v in want.items() if v} != {k: v for k, v in stats.items() if v}:
        raise CheckFailed(f"curation: stats {stats} do not count kept/dropped {dict(want)}")
