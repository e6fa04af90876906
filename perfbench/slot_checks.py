"""NumPy/pandas brute-force checks for the ``queries_ext`` slots the
``batch_slots`` workload runs.

Each checker recomputes what the slot promises from the generated tables
alone, raises ``AssertionError`` on the first difference and is cheap
enough to run on every request. Scores are compared within 1e-9; ranks
must agree except between candidates whose scores agree within 1e-9.

``test_smoke.py`` runs each checker once on the slot's DuckDB oracle
output, so the checkers and the oracles cannot drift apart.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

TOL = 1e-9
BM25_QUERIES = {0: "hash join", 1: "window order sort", 2: "customer query fast"}
PCA_ITERS = 100


def _fail(what: str) -> None:
    raise AssertionError(what)


def _half_up(x):
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _ranked(got: pd.DataFrame, want: dict[int, list[tuple[int, float]]], what: str) -> None:
    """``want`` maps query id to its exact (id, score) list, best first."""
    for q, exp in want.items():
        g = got[got["query_id"] == q].sort_values("rk")
        if list(g["rk"]) != list(range(1, len(exp) + 1)):
            _fail(f"{what} q{q}: ranks {list(g['rk'])}")
        gs, es = g["cos"].to_numpy(float), np.array([s for _, s in exp])
        if not np.allclose(gs, es, rtol=0, atol=TOL):
            _fail(f"{what} q{q}: scores {gs} != {es}")
        for (gid, gsc), (eid, esc) in zip(zip(g["neighbor_id"], gs), exp):
            if gid != eid and abs(gsc - esc) > TOL:
                _fail(f"{what} q{q}: neighbour {gid} != {eid}")
    if set(got["query_id"]) != set(want):
        _fail(f"{what}: queries {sorted(set(got['query_id']))}")


def _topk(scores: np.ndarray, ids: np.ndarray, k: int) -> list[tuple[int, float]]:
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def _bm25(docs: pd.DataFrame) -> dict[int, list[tuple[int, float]]]:
    counts = {d: Counter(t.split()) for d, t in zip(docs["doc_id"], docs["text"])}
    counts = {d: c for d, c in counts.items() if c}
    n = len(counts)
    dl = {d: sum(c.values()) for d, c in counts.items()}
    avg = sum(dl.values()) / float(n)
    out = {}
    for q, text in BM25_QUERIES.items():
        micro: Counter = Counter()
        for w in set(text.split()):
            df = sum(1 for c in counts.values() if w in c)
            if not df:
                continue
            idf = np.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
            for d, c in counts.items():
                if w in c:
                    t = idf * (c[w] * 2.2) / (c[w] + 1.2 * (0.25 + 0.75 * (dl[d] / avg)))
                    micro[d] += int(_half_up(t * 1e6))
        ids = np.array(list(micro), dtype=np.int64)
        out[q] = _topk(np.array([micro[d] for d in ids], dtype=float), ids, 5)
        out[q] = [(d, m / 1e6) for d, m in out[q]]
    return out


def check_topk(docs: pd.DataFrame, ids: np.ndarray, emb: np.ndarray, got: pd.DataFrame) -> None:
    """``similarity_bruteforce_topk``: exact, int8, bm25, rrf and pca_* rows."""
    q_rows = np.flatnonzero(ids < 5)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    scale = np.abs(emb).max(axis=1, keepdims=True) / 127.0
    codes = _half_up(emb / np.where(scale > 0, scale, 1.0)).astype(np.int64)
    cnorm = np.sqrt((codes * codes).sum(axis=1).astype(float))
    exact, int8 = {}, {}
    for r in q_rows:
        others = ids != ids[r]
        cos = (unit @ unit[r])[others]
        exact[int(ids[r])] = _topk(cos, ids[others], 5)
        icos = (codes @ codes[r]).astype(float) / (cnorm * cnorm[r])
        int8[int(ids[r])] = _topk(icos[others], ids[others], 5)
    bm25 = _bm25(docs)
    rrf = {}
    for q in (0, 1, 2):
        micro: Counter = Counter()
        for lst in (exact.get(q, []), bm25.get(q, [])):
            for rk, (d, _) in enumerate(lst, 1):
                micro[d] += int(_half_up(1e6 / (60 + rk)))
        rids = np.array(list(micro), dtype=np.int64)
        rrf[q] = [(d, m / 1e6) for d, m in _topk(np.array([micro[d] for d in rids], float), rids, 5)]
    for variant, want in (("exact", exact), ("int8", int8), ("bm25", bm25), ("rrf", rrf)):
        _ranked(got[got["variant"] == variant], want, variant)
    _check_pca(ids, emb, got)
    known = {"exact", "int8", "bm25", "rrf", "pca_mom", "pca_mu", "pca_comp", "pca_proj"}
    if not set(got["variant"]) <= known:
        _fail(f"topk: unexpected variants {set(got['variant']) - known}")


def _check_pca(ids: np.ndarray, emb: np.ndarray, got: pd.DataFrame) -> None:
    n, d = emb.shape
    iu, ju = np.triu_indices(d)
    g = _half_up(emb[:, iu] * emb[:, ju] * 1e6).astype(np.int64).sum(axis=0)
    s = _half_up(emb * 1e6).astype(np.int64).sum(axis=0)
    mom = got[got["variant"] == "pca_mom"]
    want = dict(zip(zip(iu.tolist(), ju.tolist()), g.tolist()))
    have = dict(zip(zip(mom["query_id"].astype(int), mom["neighbor_id"].astype(int)), mom["cos"]))
    if set(have) != set(want):
        _fail("pca_mom: (i, j) pairs differ")
    if any(abs(have[k] - want[k]) > 2 for k in want):
        _fail("pca_mom: moment sums differ")
    mu = s.astype(float) / 1e6 / n
    mu_got = got[got["variant"] == "pca_mu"].sort_values("query_id")["cos"].to_numpy(float)
    if not np.allclose(mu_got, mu, rtol=0, atol=TOL):
        _fail("pca_mu differs")
    cov = np.zeros((d, d))
    cov[iu, ju] = (g.astype(float) / 1e6 - n * mu[iu] * mu[ju]) / (n - 1)
    cov[ju, iu] = cov[iu, ju]
    v = np.ones(d)
    for _ in range(PCA_ITERS):
        w = cov @ v
        v = w / np.sqrt(w @ w)
    lam = v @ (cov @ v)
    comp = v * (-1.0 if v[np.argmax(np.abs(v))] < 0 else 1.0)
    c = got[got["variant"] == "pca_comp"].sort_values("query_id")
    if list(c["query_id"]) != list(range(-1, d)):
        _fail("pca_comp: component indices differ")
    if not np.allclose(c["cos"].to_numpy(float), np.r_[lam, comp], rtol=1e-9, atol=1e-9):
        _fail("pca_comp differs")
    p = got[got["variant"] == "pca_proj"].sort_values("query_id")
    if not np.array_equal(p["query_id"].to_numpy(np.int64), np.sort(ids)):
        _fail("pca_proj: vector ids differ")
    proj = ((emb - mu) @ comp)[np.argsort(ids)]
    if not np.allclose(p["cos"].to_numpy(float), proj, rtol=1e-9, atol=1e-9):
        _fail("pca_proj differs")


def check_sessions(events: pd.DataFrame, got: pd.DataFrame) -> None:
    """``streaming_session_windows``: 30-minute gap sessions per user."""
    ev = events.sort_values(["user_id", "ts"])
    gap = ev.groupby("user_id")["ts"].diff()
    sid = (gap.isna() | (gap > pd.Timedelta(minutes=30))).groupby(ev["user_id"]).cumsum()
    want = (
        ev.assign(sid=sid)
        .groupby(["user_id", "sid"], as_index=False)
        .agg(session_start=("ts", "min"), session_end=("ts", "max"),
             n_events=("ts", "size"), sum_value=("value", "sum"))
        .drop(columns="sid")
    )
    want["session_end"] += pd.Timedelta(minutes=30)
    keys = ["user_id", "session_start"]
    g = got.assign(session_start=pd.to_datetime(got["session_start"]).astype("datetime64[us]"),
                   session_end=pd.to_datetime(got["session_end"]).astype("datetime64[us]"))
    want = want.astype({"session_start": "datetime64[us]", "session_end": "datetime64[us]"})
    g, want = (x.sort_values(keys).reset_index(drop=True) for x in (g, want))
    if len(g) != len(want):
        _fail(f"sessions: {len(g)} rows, expected {len(want)}")
    for c in ("user_id", "session_start", "session_end", "n_events"):
        if not (g[c].to_numpy() == want[c].to_numpy()).all():
            _fail(f"sessions: column {c} differs")
    if not np.allclose(g["sum_value"].to_numpy(float), want["sum_value"].to_numpy(float),
                       rtol=0, atol=1e-6):
        _fail("sessions: sum_value differs")
