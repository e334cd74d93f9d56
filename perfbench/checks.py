"""Reference computations made outside the program, and the checks that
compare the program's outputs with them.

Each reference is computed by DuckDB, numpy or pyarrow from the inputs the
benchmark generated, never from a saved copy of an earlier output. Each
``check_*`` function returns a list of mismatch descriptions; an empty list
means the output is correct. They take plain Python/Arrow values so the
benchmark's own tests can feed them corrupted outputs without Spark.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import json
import math
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

SPEC_DIMS = (
    "bandeira",
    "numero_cartao",
    "exp",
    "tipo_cartao",
    "cor_cartao",
    "tipo_transacao",
    "cidade",
    "latitude",
    "longitude",
    "estado",
)
FRAUD_THRESHOLD = Decimal("50")
WINDOW_US = 10_000_000
MAX_REPORTED = 5


def _report(kind: str, items) -> list[str]:
    items = sorted(items, key=repr)
    if not items:
        return []
    more = f" (+{len(items) - MAX_REPORTED} more)" if len(items) > MAX_REPORTED else ""
    return [f"{kind}: {items[:MAX_REPORTED]}{more}"]


# --------------------------------------------------------------------------
# Medallion: spec mart == DuckDB group-by of the landed JSON
# --------------------------------------------------------------------------


def landed_card_rows(raw_root: str) -> tuple[pa.Table, int]:
    """Parse every landed gzip JSON line with the standard library, drop
    lines that do not parse (the reader's DROPMALFORMED), and return the
    rows as an Arrow table with ``valor`` as an exact DECIMAL(18,2) plus
    the number of dropped lines."""
    names = ("valor", "lat", "lng", *(d for d in SPEC_DIMS if d not in ("latitude", "longitude")))
    cols: dict[str, list] = {k: [] for k in names}
    dropped = 0
    for path in sorted(glob.glob(f"{raw_root}/estado=*/*.json.gz")):
        with gzip.open(path, "rt") as f:
            for line in f:
                try:
                    r = json.loads(line)
                except json.JSONDecodeError:
                    dropped += 1
                    continue
                loc = r["localizacao"]
                cols["valor"].append(Decimal(repr(r["valor"])).quantize(Decimal("0.01")))
                cols["lat"].append(loc["lat"])
                cols["lng"].append(loc["lng"])
                for k in ("bandeira", "numero_cartao", "exp", "tipo_cartao", "cor_cartao", "tipo_transacao"):
                    cols[k].append(r[k])
                cols["cidade"].append(loc["cidade"])
                cols["estado"].append(path.split("estado=")[1].split("/")[0])
    t = pa.table({k: pa.array(v, pa.decimal128(18, 2) if k == "valor" else pa.string()) for k, v in cols.items()})
    return t, dropped


def reference_spec(rows: pa.Table) -> dict[tuple, Decimal]:
    """The spec mart as DuckDB computes it: SUM(valor) as an exact decimal
    over the 10 dimensions, lat/lng cast from their strings."""
    con = duckdb.connect()
    con.register("raw", rows)
    out = con.execute(
        """
        SELECT bandeira, numero_cartao, exp, tipo_cartao, cor_cartao,
               tipo_transacao, cidade, CAST(lat AS DOUBLE) AS latitude,
               CAST(lng AS DOUBLE) AS longitude, estado,
               CAST(SUM(valor) AS VARCHAR) AS s
        FROM raw GROUP BY ALL
        """
    ).fetchall()
    con.close()
    return {tuple(r[:10]): Decimal(r[10]) for r in out}


def read_spec_output(spec_path: str) -> list[tuple]:
    """The program's spec mart as (10 dims..., sum_valor) tuples, read with
    pyarrow (``estado`` from the Hive partition directory)."""
    t = ds.dataset(spec_path, format="parquet", partitioning="hive").to_table()
    cols = [t.column(c).to_pylist() for c in (*SPEC_DIMS, "sum_valor")]
    return [tuple(str(v) if i == 9 else v for i, v in enumerate(row)) for row in zip(*cols)]


def check_spec(output: list[tuple], reference: dict[tuple, Decimal]) -> list[str]:
    """Every reference group appears once with a sum that is exactly the
    double nearest the decimal sum, and there is no other group."""
    got: dict[tuple, float] = {}
    dup = []
    for row in output:
        key = tuple(row[:10])
        if key in got:
            dup.append(key)
        got[key] = row[10]
    errs = _report("duplicate spec groups", dup)
    errs += _report("spec groups missing", set(reference) - set(got))
    errs += _report("unexpected spec groups", set(got) - set(reference))
    errs += _report(
        "spec sums differ",
        [(k, got[k], str(v)) for k, v in reference.items() if k in got and got[k] != float(v)],
    )
    return errs


# --------------------------------------------------------------------------
# Realtime: serving store and GETs == DuckDB alerts over the landed events
# --------------------------------------------------------------------------


def _us(v) -> int:
    """Epoch microseconds of a naive-UTC or aware datetime."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return round(v.timestamp() * 1_000_000)
    raise TypeError(v)


def reference_alerts(files: list[tuple[int, pa.Table]]) -> dict[int, list[tuple]]:
    """Per landed file: the (user, window_start_us, window_end_us, sum, n)
    alerts of that file, as DuckDB computes them — 10 s epoch-aligned
    windows, exact DECIMAL(18,2) sums, kept when the sum exceeds 50."""
    if not files:
        return {}
    con = duckdb.connect()
    con.register("ev", pa.concat_tables(
        [t.select(["ts", "user_id", "value"]).append_column(
            "file", pa.array([i] * t.num_rows, pa.int64())) for i, t in files]
    ))
    out = con.execute(
        f"""
        SELECT file, user_id, w, w + {WINDOW_US},
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS s, COUNT(*)
        FROM (SELECT file, user_id, value,
                     epoch_us(ts) - epoch_us(ts) % {WINDOW_US} AS w FROM ev)
        GROUP BY file, user_id, w
        HAVING SUM(CAST(value AS DECIMAL(18,2))) > {FRAUD_THRESHOLD}
        """
    ).fetchall()
    con.close()
    per_file: dict[int, list[tuple]] = {i: [] for i, _ in files}
    for f, u, ws, we, s, n in out:
        per_file[f].append((u, ws, we, Decimal(s), n))
    return per_file


def expected_store(alerts: dict[int, list[tuple]]) -> dict[int, list[tuple]]:
    """Per user, the alerts of the latest file that flagged the user: each
    drain's upsert keyed on ``user_id`` replaces all of a flagged user's
    rows with that batch's rows."""
    store: dict[int, list[tuple]] = {}
    for f in sorted(alerts):
        by_user: dict[int, list[tuple]] = {}
        for a in alerts[f]:
            by_user.setdefault(a[0], []).append(a)
        store.update(by_user)
    return store


def read_store_rows(store_path: str, user_id: int | None = None) -> list[tuple]:
    """The serving store's rows, read with pyarrow, as
    (user, window_start_us, window_end_us, sum_value, n_events)."""
    # the store's partition directories are named "__bucket=<n>", which
    # pyarrow's default ignore list ("_" prefixes) would skip
    d = ds.dataset(store_path, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])
    t = d.to_table(
        columns=["user_id", "window_start", "window_end", "sum_value", "n_events"],
        filter=None if user_id is None else ds.field("user_id") == user_id,
    )
    return [
        (u, _us(ws), _us(we), s, n)
        for u, ws, we, s, n in zip(*(t.column(i).to_pylist() for i in range(5)))
    ]


def _alert_key(row: tuple) -> tuple:
    u, ws, we, s, n = row
    return (u, ws, we, float(s), n)


def check_store(rows: list[tuple], expected: dict[int, list[tuple]]) -> list[str]:
    """The whole store equals the expected alerts (sums compared as the
    double nearest the exact decimal), and every user ever flagged has at
    least one row."""
    want = sorted(_alert_key(a) for alerts in expected.values() for a in alerts)
    got = sorted(_alert_key(r) for r in rows)
    errs = []
    if got != want:
        gs, ws = set(got), set(want)
        errs += _report("store rows missing", ws - gs)
        errs += _report("unexpected store rows", gs - ws)
        if len(got) != len(want) and gs == ws:
            errs.append(f"store row multiplicity differs: {len(got)} rows, want {len(want)}")
    users = {r[0] for r in rows}
    errs += _report("flagged users with no store row", set(expected) - users)
    return errs


def lookup_items(body: str) -> list[tuple]:
    """The items of a ``ServingApi`` GET response body as store tuples."""
    out = []
    for it in json.loads(body)["Items"]:
        out.append(
            (
                it["user_id"],
                _us(dt.datetime.fromisoformat(it["window_start"])),
                _us(dt.datetime.fromisoformat(it["window_end"])),
                it["sum_value"],
                it["n_events"],
            )
        )
    return out


def check_lookup(items: list[tuple], store_rows: list[tuple], expected: list[tuple]) -> list[str]:
    """A GET returns exactly the rows the store holds for the key, and for
    a user the current file flagged those are that file's alerts (so the
    answer is non-empty)."""
    errs = []
    got = sorted(_alert_key(r) for r in items)
    if got != sorted(_alert_key(r) for r in store_rows):
        errs.append(f"GET returned {got[:MAX_REPORTED]}, store holds {sorted(store_rows)[:MAX_REPORTED]}")
    if got != sorted(_alert_key(r) for r in expected):
        errs.append(f"GET returned {got[:MAX_REPORTED]}, expected alerts {sorted(expected)[:MAX_REPORTED]}")
    if not items:
        errs.append("GET returned no rows for a flagged user")
    return errs


# --------------------------------------------------------------------------
# Corpus: cosine pairs == numpy brute force; registered queries == oracle
# --------------------------------------------------------------------------


def reference_cosine_pairs(m: np.ndarray, threshold: float, boundary: float = 1e-9):
    """All pairs i < j with float64 cosine >= threshold, by brute force,
    and the pairs whose cosine lies within ``boundary`` of the threshold
    (a 1-ulp difference in summation order may put those either side)."""
    x = m.astype(np.float64)
    n = np.sqrt((x * x).sum(axis=1))
    cos = (x @ x.T) / np.outer(n, n)
    iu = np.triu_indices(len(x), k=1)
    c = cos[iu]
    keep = c >= threshold
    near = np.abs(c - threshold) < boundary
    pairs = {(int(a), int(b)): float(v) for a, b, v in zip(iu[0][keep], iu[1][keep], c[keep])}
    edge = {(int(a), int(b)) for a, b in zip(iu[0][near], iu[1][near])}
    return pairs, edge


def check_cosine_pairs(
    output: list[tuple], pairs: dict[tuple, float], edge: set[tuple], rel_tol: float = 1e-9
) -> list[str]:
    """The program's (id_a, id_b, cosine) rows match the brute force: the
    same pairs outside the threshold boundary, each cosine within
    ``rel_tol``, no pair twice."""
    got = {}
    dup = []
    for a, b, c in output:
        if (a, b) in got:
            dup.append((a, b))
        got[(a, b)] = c
    errs = _report("duplicate pairs", dup)
    errs += _report("pairs missing", set(pairs) - set(got) - edge)
    errs += _report("unexpected pairs", set(got) - set(pairs) - edge)
    errs += _report(
        "cosines differ",
        [(k, got[k], v) for k, v in pairs.items()
         if k in got and not math.isclose(got[k], v, rel_tol=rel_tol)],
    )
    return errs


def check_oracle_rows(
    cols: list[str],
    rows: list[tuple],
    oracle_cols: list[str],
    oracle_rows: list[tuple],
    rel_tol: float = 1e-12,
    skip: set[tuple] = frozenset(),
    key_cols: tuple[str, ...] = (),
) -> list[str]:
    """Order-insensitive comparison of a query's rows with its oracle's.
    Columns are matched by name; rows are matched on their non-double
    values, and their doubles must agree within ``rel_tol`` (the two
    engines may sum in different orders). Rows whose ``key_cols`` tuple is
    in ``skip`` are left out on both sides."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"columns differ: {sorted(cols)} vs oracle {sorted(oracle_cols)}"]
    names = sorted(cols)

    def group(cs, rs):
        idx = [cs.index(c) for c in names]
        kidx = [cs.index(c) for c in key_cols]
        out: dict[tuple, list[tuple]] = {}
        for r in rs:
            if tuple(r[i] for i in kidx) in skip:
                continue
            vals = [float(r[i]) if isinstance(r[i], Decimal) else r[i] for i in idx]
            key = tuple(v for v in vals if not isinstance(v, float))
            out.setdefault(key, []).append(tuple(v for v in vals if isinstance(v, float)))
        return {k: sorted(v) for k, v in out.items()}

    got, want = group(cols, rows), group(oracle_cols, oracle_rows)
    errs = _report("rows missing vs oracle", set(want) - set(got))
    errs += _report("rows not in oracle", set(got) - set(want))
    differ = []
    for k in set(got) & set(want):
        g, w = got[k], want[k]
        if len(g) != len(w) or any(
            not math.isclose(a, b, rel_tol=rel_tol) for x, y in zip(g, w) for a, b in zip(x, y)
        ):
            differ.append((k, g[:2], w[:2]))
    return errs + _report("rows differ from oracle", differ)
