"""Independent DuckDB answers for every workload, and the comparisons that
decide whether a program output is correct.

The oracles read the same parquet the program reads and share no code path
with the engine's join machinery:

- polygon matches: each layer's ``sql_predicate`` evaluated on the
  phash-derived lat/lng (the F1 anchor formula written out in SQL);
- near-duplicate pairs: a self-join blocked by latitude bands wider than the
  radius, then the haversine and Hamming tests, reduced to
  (pairs, sum id_lo, sum id_hi, sum hamming).

``python3 perfbench/oracle.py`` runs the self-test: each check accepts the
oracle's own answer and rejects deliberately perturbed ones.
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb

_ANCHOR_SQL = (
    "SELECT -90.0 + 180.0 * (((phash >> 32) & 4294967295)::DOUBLE / 4294967296.0) AS lat,"
    " -180.0 + 360.0 * ((phash & 4294967295)::DOUBLE / 4294967296.0) AS lng"
    " FROM read_parquet('{path}/*.parquet')"
)


def polygon_counts(corpus: str, layers) -> dict[str, int]:
    """Per-polygon count of corpus rows inside each layer."""
    cols = []
    for layer in layers:
        pred = layer.sql_predicate("lat", "lng")
        if pred is None:
            raise ValueError(f"layer {layer.polygon_id} has no SQL predicate")
        cols.append(f"count(*) FILTER (WHERE {pred})")
    sql = f"SELECT {', '.join(cols)} FROM ({_ANCHOR_SQL.format(path=corpus)})"
    with duckdb.connect() as con:
        row = con.execute(sql).fetchone()
    return {layer.polygon_id: int(n) for layer, n in zip(layers, row) if n}


def _haversine_sql(a: str, b: str) -> str:
    d2r = repr(math.pi / 180.0)
    x = (
        f"(sin(0.5 * ({b}.lat * {d2r} - {a}.lat * {d2r})) * sin(0.5 * ({b}.lat * {d2r} - {a}.lat * {d2r}))"
        f" + sin(0.5 * ({b}.lng * {d2r} - {a}.lng * {d2r})) * sin(0.5 * ({b}.lng * {d2r} - {a}.lng * {d2r}))"
        f" * cos({a}.lat * {d2r}) * cos({b}.lat * {d2r}))"
    )
    return f"(2.0 * atan2(sqrt({x}), sqrt(greatest(0.0, 1.0 - {x}))))"


def neardup_summary(corpus: str, radius_rad: float, max_hamming: int) -> tuple[int, int, int, int]:
    """(pairs, sum id_lo, sum id_hi, sum hamming) over all near-dup pairs."""
    band = 2.0 * math.degrees(radius_rad)  # any pair within radius sits in adjacent bands
    sql = f"""
        WITH p AS (
            SELECT point_id AS id, lat, lng, phash, floor(lat / {band!r})::BIGINT AS b
            FROM read_parquet('{corpus}/*.parquet')
        ), shifted AS (
            SELECT id, lat, lng, phash, b + d AS b FROM p, (VALUES (-1), (0), (1)) t(d)
        ), pairs AS (
            SELECT l.id AS id_lo, r.id AS id_hi, bit_count(xor(l.phash, r.phash)) AS ham
            FROM p l JOIN shifted r ON l.b = r.b AND l.id < r.id
            WHERE bit_count(xor(l.phash, r.phash)) <= {max_hamming}
              AND {_haversine_sql('l', 'r')} <= {radius_rad!r}
        )
        SELECT count(*), coalesce(sum(id_lo), 0), coalesce(sum(id_hi), 0), coalesce(sum(ham), 0)
        FROM pairs
    """
    with duckdb.connect() as con:
        row = con.execute(sql).fetchone()
    return tuple(int(v) for v in row)


# ---------------------------------------------------------------------------
# Comparisons: each returns a list of human-readable mismatches (empty = ok)
# ---------------------------------------------------------------------------
def diff_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    keys = sorted(set(got) | set(want))
    return [f"{k}: got {got.get(k, 0)} want {want.get(k, 0)}" for k in keys if got.get(k, 0) != want.get(k, 0)]


def diff_tuple(got: tuple, want: tuple) -> list[str]:
    return [] if tuple(got) == tuple(want) else [f"got {tuple(got)} want {tuple(want)}"]


def _selftest() -> int:
    """Show that every check rejects a perturbed result."""
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import corpus, workloads

    failures = []

    def expect(name: str, mismatches: list[str], ok: bool) -> None:
        verdict = "accepts" if not mismatches else "rejects"
        print(f"{name}: {verdict} {mismatches[:1]}")
        if bool(mismatches) == ok:
            failures.append(name)

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        layers = workloads.build_layers()
        path = corpus.materialize(tmp, "uniform", 7, 20_000)
        want = polygon_counts(path, layers)
        expect("polygon counts, exact", diff_counts(dict(want), want), ok=True)
        off_by_one = dict(want, r_eu=want["r_eu"] - 1)
        expect("polygon counts, one match dropped", diff_counts(off_by_one, want), ok=False)
        missing = {k: v for k, v in want.items() if k != "l_tri"}
        expect("polygon counts, one polygon missing", diff_counts(missing, want), ok=False)

        pts = corpus.materialize(tmp, "hotcity", 7, 20_000)
        summ = neardup_summary(pts, workloads.NEARDUP_RADIUS, workloads.NEARDUP_HAMMING)
        print(f"near-dup oracle on 20k rows: {summ}")
        expect("near-dup pairs, exact", diff_tuple(summ, summ), ok=True)
        expect("near-dup pairs, one pair dropped", diff_tuple((summ[0] - 1,) + summ[1:], summ), ok=False)
        expect("near-dup pairs, ids swapped", diff_tuple((summ[0], summ[2], summ[1], summ[3]), summ), ok=False)
    print(json.dumps({"selftest_failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(_selftest())
