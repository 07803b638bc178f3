"""Output checks and result hashing. Nothing here runs inside a timed region.

Every check raises :class:`CheckFailed` with a message naming the op; the
run then reports ``correct: false``.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np

# Scores are compared after the 6-dp rounding the engine applies; 2e-6
# absorbs one rounding step on either side.
SCORE_TOL = 2e-6


class CheckFailed(Exception):
    pass


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalized, rows sorted: two results
    with the same rows in any order canonicalize identically."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def table_rows(table) -> tuple[list[str], list[tuple]]:
    """A pyarrow table as (column names, row tuples)."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    c, r = canonical(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


# -- vector search -------------------------------------------------------------


def cosines(vecs: np.ndarray, q) -> np.ndarray:
    v = vecs.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    return (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))


def exact_ids(ids: np.ndarray, vecs: np.ndarray, q, k: int) -> list[int]:
    s = np.round(cosines(vecs, q), 6)
    order = np.lexsort((ids, -s))[:k]
    return [int(ids[i]) for i in order]


def check_topk(label: str, hits: list[tuple[int, float]], ids: np.ndarray,
               vecs: np.ndarray, q, k: int) -> None:
    """``hits`` must be an exact cosine top-``k`` of (ids, vecs): the right
    number of distinct ids, each reported score equal to the true cosine,
    and the score list equal to the true top-``k`` score list (ties may
    pick either id)."""
    want = min(k, len(ids))
    if len(hits) != want:
        raise CheckFailed(f"{label}: {len(hits)} hits, expected {want}")
    got_ids = [h[0] for h in hits]
    if len(set(got_ids)) != len(got_ids):
        raise CheckFailed(f"{label}: duplicate ids {got_ids}")
    true = cosines(vecs, q)
    pos = {int(i): n for n, i in enumerate(ids)}
    for i, score in hits:
        if i not in pos:
            raise CheckFailed(f"{label}: id {i} is not in the searched set")
        if abs(true[pos[i]] - score) > SCORE_TOL:
            raise CheckFailed(f"{label}: id {i} score {score} != true {true[pos[i]]:.6f}")
    best = np.sort(true)[::-1][:want]
    got = np.sort(np.array([h[1] for h in hits]))[::-1]
    if np.any(np.abs(best - got) > SCORE_TOL):
        raise CheckFailed(f"{label}: scores {got.round(6).tolist()} are not the top-{k} {best.round(6).tolist()}")


def check_scores(label: str, hits: list[tuple[int, float]], ids: np.ndarray,
                 vecs: np.ndarray, q, k: int) -> None:
    """An approximate route: at most ``k`` distinct live ids, each with its
    true cosine score."""
    if not 0 < len(hits) <= k:
        raise CheckFailed(f"{label}: {len(hits)} hits for k={k}")
    true = cosines(vecs, q)
    pos = {int(i): n for n, i in enumerate(ids)}
    if len({h[0] for h in hits}) != len(hits):
        raise CheckFailed(f"{label}: duplicate ids")
    for i, score in hits:
        if i not in pos or abs(true[pos[i]] - score) > SCORE_TOL:
            raise CheckFailed(f"{label}: id {i} score {score} is not its cosine")


def check_members(label: str, got_ids, allowed: set, limit: int) -> None:
    """Every hit satisfies the filter (is in ``allowed``), ids are distinct
    and within ``limit``."""
    got_ids = list(got_ids)
    if not 0 < len(got_ids) <= limit or len(set(got_ids)) != len(got_ids):
        raise CheckFailed(f"{label}: {len(got_ids)} hits (limit {limit}), ids {got_ids}")
    bad = [i for i in got_ids if i not in allowed]
    if bad:
        raise CheckFailed(f"{label}: ids {bad[:5]} do not satisfy the filter")


# -- oracle replay ------------------------------------------------------------


def check_oracle(label: str, cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> None:
    """The rules of the repository's correctness gate: same column names,
    same row count, same values after 6-dp rounding, in any row order."""
    sc, sv = canonical(cols, rows)
    oc, ov = canonical(ocols, orows)
    if sc != oc:
        raise CheckFailed(f"{label}: columns {sc} != oracle {oc}")
    if len(sv) != len(ov):
        raise CheckFailed(f"{label}: {len(sv)} rows != oracle {len(ov)}")
    for a, b in zip(sv, ov):
        if a != b:
            raise CheckFailed(f"{label}: row {a} != oracle {b}")
