"""Turn engine outputs into canonical rows and compare them with the
DuckDB answer.

Canonical rows are tuples of key strings followed by measure floats.
Keys compare as normalized strings (``7``, ``7.0`` and ``"7"`` are the
same key); measures compare with a relative tolerance of 1e-9, the
tolerance ``scripts/check_oracle.py`` uses for exact-decimal sums cast
back to double.
"""

from __future__ import annotations

import csv
import io
import json
import math
import zipfile
from xml.etree import ElementTree

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def norm_key(v) -> str | None:
    if v is None or v == "":
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        f = float(v)
        return str(int(f)) if f.is_integer() else repr(f)
    s = str(v)
    try:
        return norm_key(float(s)) if s.strip() else s
    except ValueError:
        return s


def norm_val(v) -> float | None:
    if v is None or v == "":
        return None
    return float(v)


def _tidy(header: list[str], rows: list[list], spec: dict) -> list[tuple]:
    try:
        ki = [header.index(c) for c in spec["key_cols"]]
        mi = [header.index(m) for m in spec["measures"]]
    except ValueError as e:
        raise ValueError(f"column missing from {header}: {e}") from None
    out = [tuple(norm_key(r[i]) for i in ki)
           + tuple(norm_val(r[i]) for i in mi) for r in rows]
    # without nonempty, tidy output lists every member of the level with
    # empty cells; the JSON check skips those cells the same way
    return out if spec["dense"] else [
        r for r in out if any(v is not None for v in r[len(ki):])]


def _xlsx_rows(body: bytes) -> list[list]:
    with zipfile.ZipFile(io.BytesIO(body)) as z:
        root = ElementTree.fromstring(z.read("xl/worksheets/sheet1.xml"))
    out = []
    for row in root.iter(f"{_NS}row"):
        vals = []
        for c in row.iter(f"{_NS}c"):
            if c.get("t") == "inlineStr":
                vals.append(c.find(f"{_NS}is/{_NS}t").text or "")
            else:
                v = c.find(f"{_NS}v")
                vals.append(None if v is None else v.text)
        out.append(vals)
    return out


def response_rows(fmt: str, body: bytes, spec: dict) -> list[tuple]:
    """Canonical rows of one REST/MDX response body."""
    if fmt == "json":
        res = json.loads(body)
        if not spec["key_cols"]:
            return [tuple(norm_val(v) for v in res["values"])]
        rows = []
        for keys, vals in zip(res["cell_keys"], res["values"]):
            if not spec["dense"] and all(v is None for v in vals):
                continue
            rows.append(tuple(norm_key(k) for k in keys)
                        + tuple(norm_val(v) for v in vals))
        return rows
    if fmt == "csv":
        rows = list(csv.reader(io.StringIO(body.decode())))
        return _tidy(rows[0], rows[1:], spec)
    if fmt == "jsonrecords":
        data = json.loads(body)["data"]
        header = list(data[0]) if data else spec["key_cols"] + spec["measures"]
        return _tidy(header, [[d.get(h) for h in header] for d in data], spec)
    if fmt == "xlsx":
        rows = _xlsx_rows(body)
        return _tidy(rows[0], rows[1:], spec)
    if fmt == "members":
        return [(norm_key(m["key"]), norm_key(m["caption"]))
                for m in json.loads(body)["members"]]
    raise ValueError(f"unknown format {fmt!r}")


def expected_rows(con, spec: dict) -> list[tuple]:
    nk = len(spec["key_cols"]) if spec["key_cols"] or spec["measures"] else 2
    return [tuple(norm_key(v) for v in r[:nk])
            + tuple(norm_val(v) for v in r[nk:])
            for r in con.execute(spec["sql"]).fetchall()]


def _sort_key(row: tuple):
    return tuple((v is None, "" if v is None else str(v)) for v in row)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal as multisets, else a one-line description."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return f"row {g!r} != expected {w!r}"
    return None


def frame_rows(columns: list[str], rows: list[list]) -> list[tuple]:
    """Corpus results: columns sorted by name, values normalized (floats
    rounded to 9 significant digits so both engines' doubles agree)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if hasattr(v, "isoformat"):
            return v.isoformat(sep=" ")
        return v
    return [tuple(norm(r[i]) for i in order) for r in rows]
