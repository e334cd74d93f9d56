"""Each of the benchmark's output checks passes on a correct output and
fails on a corrupted one. No Spark: the outputs are built from the same
seeded inputs with the reference computations, then corrupted.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


# --------------------------------------------------------------------------
# spec mart
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spec_reference(tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("raw"))
    malformed = gen.write_card_raw(raw, seed=3, n_rows=2000)
    rows, dropped = checks.landed_card_rows(raw)
    assert dropped == malformed > 0
    assert rows.num_rows == 2000
    return checks.reference_spec(rows)


def _spec_output(reference):
    return [(*k, float(v)) for k, v in reference.items()]


def test_spec_check_accepts_reference(spec_reference):
    assert len(spec_reference) < 2000  # the group-by folds rows together
    assert checks.check_spec(_spec_output(spec_reference), spec_reference) == []


def test_spec_check_fails_on_dropped_row(spec_reference):
    out = _spec_output(spec_reference)[1:]
    assert checks.check_spec(out, spec_reference)


def test_spec_check_fails_on_perturbed_sum(spec_reference):
    out = _spec_output(spec_reference)
    out[0] = (*out[0][:10], out[0][10] + 0.01)
    assert checks.check_spec(out, spec_reference)


def test_spec_check_fails_on_duplicated_or_extra_group(spec_reference):
    out = _spec_output(spec_reference)
    assert checks.check_spec(out + out[:1], spec_reference)
    extra = ("visa", "0", "01/25", "gold", "azul", "credito", "X", 0.0, 0.0, "SP", 1.0)
    assert checks.check_spec(out + [extra], spec_reference)


def test_spec_check_reads_spark_style_partitioned_output(spec_reference, tmp_path):
    out = _spec_output(spec_reference)
    by_uf = {}
    for r in out:
        by_uf.setdefault(r[9], []).append(r)
    for uf, rows in by_uf.items():
        cols = list(zip(*rows))
        t = pa.table({n: list(c) for n, c in zip(checks.SPEC_DIMS[:9], cols[:9])} | {"sum_valor": list(cols[10])})
        d = tmp_path / f"estado={uf}"
        d.mkdir()
        pq.write_table(t, d / "part-00000.snappy.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    assert checks.check_spec(checks.read_spec_output(str(tmp_path)), spec_reference) == []


# --------------------------------------------------------------------------
# serving store and GETs
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def event_files():
    return [(k, gen.event_batch(5, k, 2000, 6, 400, 30)) for k in range(3)]


def test_events_are_cut_on_window_boundaries(event_files):
    span = 6 * checks.WINDOW_US
    first = None
    for k, t in event_files:
        us = t.column("ts").cast(pa.int64()).to_numpy()
        start = us.min() - us.min() % checks.WINDOW_US
        first = start if first is None else first
        # file k covers exactly its own six aligned windows, so no window
        # straddles two drains and nothing lands behind the watermark
        assert start == first + k * span
        assert us.max() < start + span
        assert (t.column("value").to_numpy() > 0).all()


def test_store_check_accepts_expected_and_fails_on_corruption(event_files):
    alerts = checks.reference_alerts(event_files)
    assert all(alerts[k] for k, _ in event_files)
    expected = checks.expected_store(alerts)
    rows = [(u, ws, we, float(s), n) for a in expected.values() for (u, ws, we, s, n) in a]
    assert checks.check_store(rows, expected) == []
    assert checks.check_store(rows[1:], expected)  # a missing alert
    u, ws, we, s, n = rows[0]
    assert checks.check_store([(u, ws, we, s + 0.01, n)] + rows[1:], expected)  # perturbed sum
    assert checks.check_store(rows + rows[:1], expected)  # duplicated row
    # a stale row from an earlier file the user's latest batch replaced
    stale = [a for a in alerts[0] if a[0] in expected and a not in expected[a[0]]]
    assert stale
    su, sws, swe, ss, sn = stale[0]
    assert checks.check_store(rows + [(su, sws, swe, float(ss), sn)], expected)
    # a flagged user with no row at all
    victim = rows[0][0]
    assert checks.check_store([r for r in rows if r[0] != victim], expected)


def _body(items):
    return json.dumps(
        {
            "Items": [
                {
                    "user_id": u,
                    "window_start": checks.dt.datetime.fromtimestamp(ws / 1e6, checks.dt.timezone.utc)
                    .isoformat(timespec="milliseconds").replace("+00:00", "Z"),
                    "window_end": checks.dt.datetime.fromtimestamp(we / 1e6, checks.dt.timezone.utc)
                    .isoformat(timespec="milliseconds").replace("+00:00", "Z"),
                    "sum_value": s,
                    "n_events": n,
                }
                for u, ws, we, s, n in items
            ],
            "Count": len(items),
        }
    )


def test_lookup_check(event_files):
    alerts = checks.reference_alerts(event_files[:1])[0]
    u = alerts[0][0]
    mine = [a for a in alerts if a[0] == u]
    stored = [(a[0], a[1], a[2], float(a[3]), a[4]) for a in mine]
    items = checks.lookup_items(_body(stored))
    assert checks.check_lookup(items, stored, mine) == []
    assert checks.check_lookup([], [], mine)  # GET found nothing
    assert checks.check_lookup(items[1:] if len(items) > 1 else [], stored, mine)
    wrong = [(x[0], x[1], x[2], x[3] + 1.0, x[4]) for x in items]
    assert checks.check_lookup(wrong, stored, mine)  # perturbed sum


# --------------------------------------------------------------------------
# cosine pairs and oracle rows
# --------------------------------------------------------------------------


def test_cosine_check():
    m = gen.embeddings_matrix(9, 300)
    pairs, edge = checks.reference_cosine_pairs(m, 0.42)
    assert pairs
    out = [(a, b, c) for (a, b), c in pairs.items()]
    assert checks.check_cosine_pairs(out, pairs, edge) == []
    assert checks.check_cosine_pairs(out[1:], pairs, edge)  # a missing pair
    assert checks.check_cosine_pairs(out + [(0, 299, 0.5)] if (0, 299) not in pairs else out[:-1], pairs, edge)
    a, b, c = out[0]
    assert checks.check_cosine_pairs([(a, b, c * (1 + 1e-6))] + out[1:], pairs, edge)
    # a pair within the boundary band may be on either side
    near = {(0, 1)}
    assert checks.check_cosine_pairs(out + [(0, 1, 0.42)], pairs, near) == []


def test_oracle_rows_check():
    cols = ["id_a", "id_b", "jaccard"]
    rows = [(1, 2, 0.5), (1, 3, 0.75), (4, 9, 1.0)]
    oracle = [(4, 9, 1.0), (1, 2, 0.5 + 1e-15), (1, 3, 0.75)]
    assert checks.check_oracle_rows(cols, rows, ["id_b", "id_a", "jaccard"],
                                    [(b, a, j) for a, b, j in oracle]) == []
    assert checks.check_oracle_rows(cols, rows[1:], cols, oracle)  # missing row
    assert checks.check_oracle_rows(cols, rows + rows[:1], cols, oracle)  # duplicate
    assert checks.check_oracle_rows(cols, [(1, 2, 0.51)] + rows[1:], cols, oracle)  # perturbed
    assert checks.check_oracle_rows(["id_a", "id_b", "j"], rows, cols, oracle)  # renamed column
    counts = (["n_exact_pairs", "recall_ge_floor"], [(17, True)])
    assert checks.check_oracle_rows(*counts, *counts) == []
    assert checks.check_oracle_rows(counts[0], [(17, False)], *counts)
    assert checks.check_oracle_rows(counts[0], [(16, True)], *counts)
