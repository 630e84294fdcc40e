"""Independent ground truth for the sequential operators (FSM
backtests, BPE) — the machinery behind their literal-VALUES oracles.

The trade FSMs and BPE training are order-dependent loops with state
feedback: no window/aggregate SQL expresses them, which is why
q25/q26/q27/q103 were rows-only checks through round 4. The round-4
verdict's ask: their outputs are deterministic functions of the
fixture, so pin them the way q98 pins ECDSA recovery — a literal
ground truth the driver's DuckDB gate can value-hash.

Independence: everything here is a from-scratch single-process
reimplementation — plain Python loops over series that DUCKDB
computes (the same dense-grid/consensus/rolling CTEs that back the
oracle-proven q16-q24), never a re-export of Spark output. The
literal part of each oracle is only the DISCRETE DECISIONS (trade
entry/exit buckets, per-source token counts); prices, returns and
z-values are recomputed by DuckDB from its own CTEs and joined to the
decisions, so the float surface is still cross-engine-checked, not
copied. Spark's distributed FSM (applyInPandas kernels,
operators/backtest.py) and the distributed BPE (functions/bpe.py)
must independently land on the same decisions for the hash to match.

Engine parity notes: the FSM inputs (consensus, dev, z) are built
from exact decimal sums cast to double — bit-identical between Spark
and DuckDB (the q16-q24 oracles prove this family hash-matches), so
threshold comparisons agree everywhere and (exit/entry − 1)·100 is
the same correctly-rounded IEEE arithmetic in both engines.
"""

from __future__ import annotations

import re
from functools import lru_cache

from . import oracle_ctx
from .timeseries_q import _SQL_DENSE, _SQL_ROLL

# ---------------------------------------------------------------------------
# FSM inputs — the exact series the Spark queries feed their kernels
# (plans/stateful.q_backtest_pct / q_backtest_zscore), computed by
# DuckDB from the shared oracle CTEs.
# ---------------------------------------------------------------------------

_SQL_PCT_INPUT = _SQL_DENSE + """
, cons AS (
  SELECT event_type, bucket, value,
         CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY bucket) AS DOUBLE)
           / count(value) OVER (PARTITION BY bucket) AS consensus
  FROM dense
)
SELECT event_type, bucket, value, consensus
FROM cons ORDER BY event_type, bucket
"""

_SQL_Z_INPUT = _SQL_DENSE + _SQL_ROLL + """
SELECT event_type, bucket, value,
       CASE WHEN roll_std != 0 THEN (dev - roll_mean) / roll_std END AS z
FROM z ORDER BY event_type, bucket
"""


def _series(sql: str) -> dict[str, list[tuple]]:
    """{pool: [(bucket, value, signal), ...]} in bucket order."""
    con = oracle_ctx.connect()  # named: a relation does not keep its
    rows = con.sql(sql).fetchall()  # connection alive past the expr
    out: dict[str, list[tuple]] = {}
    for pool, bucket, value, sig in rows:
        out.setdefault(pool, []).append((int(bucket), value, sig))
    return out


@lru_cache(maxsize=4)
def fsm_pct_decisions(sf_dir: str, threshold: float = 30.0) -> list[tuple]:
    """(pool, side, entry_ts, exit_ts) per closed trade — the pct FSM
    (operators/backtest.meanrevert_fsm_pct semantics, reference
    `stable_eth_meanrevert_bot.py:131-178`) rerun as a plain loop:
    open long at dev ≤ −thr / short at dev ≥ +thr, close on the zero
    crossing, one position per pool, open tail dropped."""
    assert sf_dir == oracle_ctx.sf_dir()
    trades = []
    for pool, rows in sorted(_series(_SQL_PCT_INPUT).items()):
        side, entry_ts = None, None
        for bucket, value, consensus in rows:
            if value is None or consensus is None or consensus == 0.0:
                # try_divide semantics: a zero consensus has no
                # defined deviation -> NULL -> the FSM skips the row
                continue
            d = (value / consensus - 1.0) * 100.0
            if d != d:
                continue
            if side is None:
                if d <= -threshold:
                    side, entry_ts = "long", bucket
                elif d >= threshold:
                    side, entry_ts = "short", bucket
            elif side == "long" and d >= 0:
                trades.append((pool, side, entry_ts, bucket))
                side = None
            elif side == "short" and d <= 0:
                trades.append((pool, side, entry_ts, bucket))
                side = None
    return trades


@lru_cache(maxsize=4)
def fsm_z_decisions(sf_dir: str, entry_z: float = 1.5, exit_z: float = 0.5,
                    max_hold: int = 60) -> list[tuple]:
    """(pool, side, entry_ts, exit_ts) per closed trade — the z-score
    FSM with time stop (operators/backtest.meanrevert_fsm_zscore,
    reference `stable_eth_meanrevert_bot.py:182-251`). ``held_rows``
    needs no pinning: the grid is dense, so it equals
    (exit_ts − entry_ts) / 300 and the oracle derives it."""
    assert sf_dir == oracle_ctx.sf_dir()
    trades = []
    for pool, rows in sorted(_series(_SQL_Z_INPUT).items()):
        side, entry_i = None, -1
        for i, (bucket, value, z) in enumerate(rows):
            if z is None or z != z:
                continue
            if side is None:
                if z <= -entry_z:
                    side, entry_i = "long", i
                elif z >= entry_z:
                    side, entry_i = "short", i
            else:
                held = i - entry_i
                if abs(z) <= exit_z or held >= max_hold:
                    trades.append((pool, side, rows[entry_i][0], bucket))
                    side = None
    return trades


def _sq(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _decisions_cte(decisions: list[tuple]) -> str:
    if not decisions:
        # typed empty relation: VALUES needs ≥1 row
        return ("decisions AS (SELECT '' AS pool, '' AS side, "
                "CAST(0 AS BIGINT) AS entry_ts, CAST(0 AS BIGINT) AS exit_ts "
                "WHERE FALSE)")
    vals = ",\n  ".join(
        f"({_sq(p)},{_sq(s)},{e},{x})" for p, s, e, x in decisions)
    return (f"decisions(pool, side, entry_ts, exit_ts) AS (VALUES\n  {vals})")


def _pct_return_sql() -> str:
    """The _close() return arithmetic as one shared SQL snippet —
    q25/q26/q27 are only mutually consistent while they aggregate the
    byte-identical expression (q27 sums exactly q26's trade returns).
    Zero-entry semantics spelled out (a synthetic sf0.1 price is
    exactly 0.0; engines disagree on x / 0.0): nan for 0/0, signed
    inf otherwise."""
    ret = ("CASE WHEN e.value = 0.0 THEN "
           "(CASE WHEN x.value = 0.0 THEN CAST('nan' AS DOUBLE) "
           "ELSE CAST('infinity' AS DOUBLE) * x.value END) "
           "ELSE (x.value / e.value - 1.0) * 100.0 END")
    return (f"CASE WHEN dec.side = 'short' THEN -({ret})\n"
            f"            ELSE {ret} END")


def oracle_backtest_pct() -> str:
    dec = fsm_pct_decisions(oracle_ctx.sf_dir())
    return _SQL_DENSE + f"""
, {_decisions_cte(dec)}
SELECT dec.pool, dec.side,
       CAST(dec.entry_ts AS BIGINT) AS entry_ts,
       CAST(dec.exit_ts AS BIGINT) AS exit_ts,
       e.value AS entry_price, x.value AS exit_price,
       {_pct_return_sql()} AS pct_return
FROM decisions dec
JOIN dense e ON e.event_type = dec.pool AND e.bucket = dec.entry_ts
JOIN dense x ON x.event_type = dec.pool AND x.bucket = dec.exit_ts
ORDER BY dec.pool, dec.entry_ts
"""


_SQL_ZZ = _SQL_DENSE + _SQL_ROLL + """
, zz AS (
  SELECT event_type, bucket, value,
         CASE WHEN roll_std != 0 THEN (dev - roll_mean) / roll_std END AS zv
  FROM z
)"""


def oracle_backtest_zscore() -> str:
    dec = fsm_z_decisions(oracle_ctx.sf_dir())
    return _SQL_ZZ + f"""
, {_decisions_cte(dec)}
SELECT dec.pool, dec.side,
       CAST(dec.entry_ts AS BIGINT) AS entry_ts,
       CAST(dec.exit_ts AS BIGINT) AS exit_ts,
       e.value AS entry_price, x.value AS exit_price,
       {_pct_return_sql()} AS pct_return,
       round(e.zv, 6) AS entry_z, round(x.zv, 6) AS exit_z,
       CAST((dec.exit_ts - dec.entry_ts) // 300 AS BIGINT) AS held_rows
FROM decisions dec
JOIN zz e ON e.event_type = dec.pool AND e.bucket = dec.entry_ts
JOIN zz x ON x.event_type = dec.pool AND x.bucket = dec.exit_ts
ORDER BY dec.pool, dec.entry_ts
"""


def oracle_calendar_returns() -> str:
    """q27 = monthly aggregation over the z-FSM trades; the FINITE
    returns sum through DECIMAL(27,12) in both engines (exact,
    order-independent — `_dsum` discipline) and surface as double;
    non-finite returns (zero-entry trades) are excluded from the sum
    and counted in n_nonfinite, mirroring bt.calendar_returns. The
    bucket predicate is |p| < 1e15 (not bare isfinite) in BOTH
    engines: a finite return at/above 1e15 overflows DECIMAL(27,12) —
    DuckDB throws, non-ANSI Spark silently NULLs — so both classify
    it as a non-finite ledger line instead (see calendar_returns)."""
    dec = fsm_z_decisions(oracle_ctx.sf_dir())
    return _SQL_ZZ + f"""
, {_decisions_cte(dec)}
, trades AS (
  SELECT CAST(dec.exit_ts AS BIGINT) AS exit_ts,
         {_pct_return_sql()} AS pct_return
  FROM decisions dec
  JOIN zz e ON e.event_type = dec.pool AND e.bucket = dec.entry_ts
  JOIN zz x ON x.event_type = dec.pool AND x.bucket = dec.exit_ts
)
SELECT strftime(make_timestamp(exit_ts * 1000000), '%Y-%m') AS month,
       CAST(sum(CASE WHEN isfinite(pct_return) AND abs(pct_return) < 1e15
                     THEN CAST(pct_return AS DECIMAL(27,12)) END)
            AS DOUBLE) AS pct_return,
       count(*) AS n_trades,
       CAST(count(*) FILTER (NOT (isfinite(pct_return)
                                  AND abs(pct_return) < 1e15)) AS BIGINT)
         AS n_nonfinite
FROM trades GROUP BY 1 ORDER BY month
"""


# ---------------------------------------------------------------------------
# BPE ground truth: classic single-process Sennrich training + encode
# (word-frequency table, count-desc/pair-asc tie break, left-to-right
# merge scan, min_pair_count=2 early stop) — the algorithm
# functions/bpe.py distributes. Outputs are integers; the oracle is a
# tiny per-source VALUES relation.
# ---------------------------------------------------------------------------

# Java's \s (ASCII-only) — functions/text.TOKEN_RE through Spark's
# Java regex engine; DuckDB's RE2 \s matches the same class.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _words(text: str) -> list[str]:
    # strip(" "): Spark/DuckDB trim() removes SPACES only — Python's
    # bare strip() would also eat \t/\n and desynchronize the token
    # boundaries from the engines this twin pins
    return _WS.split(text.lower().strip(" "))


def _merge_once(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _train_merges(word_counts: dict[str, int], num_merges: int,
                  min_pair_count: int = 2) -> list[tuple[str, str]]:
    table = {w: (n, list(w) + ["</w>"]) for w, n in word_counts.items()}
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        pairs: dict[tuple[str, str], int] = {}
        for n, syms in table.values():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        a, b = best[0]
        merges.append((a, b))
        table = {w: (n, _merge_once(syms, a, b))
                 for w, (n, syms) in table.items()}
    return merges


def _encode(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Token count of one word under rank-greedy encoding — the
    independent twin of functions/bpe._encode_word."""
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return len(syms)


@lru_cache(maxsize=4)
def bpe_source_stats(sf_dir: str, num_merges: int) -> list[tuple]:
    """(source, n_docs, n_words, n_bpe_tokens, max_word_toks) — the
    q103 output recomputed end-to-end in one process."""
    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    docs = con.sql("SELECT doc_id, source, text FROM documents").fetchall()
    counts: dict[str, int] = {}
    for _, _, text in docs:
        for w in _words(text):
            counts[w] = counts.get(w, 0) + 1
    ranks = {m: i for i, m in
             enumerate(_train_merges(counts, num_merges))}
    tok_len = {w: _encode(w, ranks) for w in counts}
    agg: dict[str, list[int]] = {}
    for _, source, text in docs:
        ws = _words(text)
        a = agg.setdefault(source, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(ws)
        a[2] += sum(tok_len[w] for w in ws)
        a[3] = max(a[3], max(tok_len[w] for w in ws) if ws else 0)
    return [(s, *vals) for s, vals in sorted(agg.items())]


def oracle_bpe_tokens() -> str:
    from .textstats_q import BPE_MERGES

    stats = bpe_source_stats(oracle_ctx.sf_dir(), BPE_MERGES)
    vals = ",\n  ".join(
        f"({_sq(s)},{d},{w},{t},{m})" for s, d, w, t, m in stats)
    return f"""
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       CAST(max_word_toks AS INTEGER) AS max_word_toks
FROM (VALUES
  {vals}) AS t(source, n_docs, n_words, n_bpe_tokens, max_word_toks)
ORDER BY source
"""


# ---------------------------------------------------------------------------
# ML ground truth (q29/q102): the convex logistic-regression optimum
# is engine-independent — Spark's L-BFGS (run to tol=1e-12) and this
# Newton solver land on the same coefficients to ~1e-9, probabilities
# to ~2e-8. The oracle pins the DISCRETE surface (signals, predicted
# counts, quantized probabilities) with build-time margin assertions:
# if any decision ever sits closer to its threshold than the solver-
# parity budget, the build fails loudly instead of hash-flaking.
# ---------------------------------------------------------------------------

_PARITY_BUDGET = 1e-6  # >> observed 2e-8 solver delta, << margins


def _sigmoid(v):
    import numpy as np

    return 1.0 / (1.0 + np.exp(-v))


def _newton_logreg(X, y, max_iter: int = 200, l2: float = 0.0):
    """Logistic regression (intercept last, unpenalized) by Newton
    iteration to machine precision. ``l2`` matches Spark's
    LogisticRegression ``regParam`` exactly: the objective is
    (1/n)·Σ logloss + l2·½·‖w‖² — n-normalized loss, intercept
    excluded from the penalty, features pre-standardized so Spark's
    internal standardization is the identity."""
    import numpy as np

    n = len(X)
    Xb = np.hstack([X, np.ones((n, 1))])
    pen = np.full(Xb.shape[1], l2)
    pen[-1] = 0.0
    w = np.zeros(Xb.shape[1])
    for _ in range(max_iter):
        p = _sigmoid(Xb @ w)
        g = Xb.T @ (p - y) / n + pen * w
        h = (Xb * (p * (1 - p))[:, None]).T @ Xb / n + np.diag(pen)
        step = np.linalg.solve(h + 1e-12 * np.eye(len(w)), g)
        w -= step
        if np.max(np.abs(step)) < 1e-14:
            return w
    raise RuntimeError("ground-truth Newton solve did not converge")


def _standardize(X, Xtrain):
    """StandardScaler(withMean, withStd) semantics: center, then scale
    by the sample std — a ZERO-variance feature scales to 0.0 (MLlib's
    std==0 guard), leaving its coefficient pinned at the origin."""
    import numpy as np

    mu = Xtrain.mean(axis=0)
    sd = Xtrain.std(axis=0, ddof=1)
    zero = sd == 0
    sd = np.where(zero, 1.0, sd)
    out = (X - mu) / sd
    out[:, zero] = 0.0
    return out


def _margin(arr, thr: float) -> float:
    import numpy as np

    return float(np.min(np.abs(arr - thr))) if len(arr) else float("inf")


def _assert_margin(m: float, what: str,
                   budget: float = _PARITY_BUDGET) -> None:
    if m < budget:
        raise RuntimeError(
            f"ground-truth {what} margin {m:.3g} is inside the solver-"
            f"parity budget {budget:g}; the pinned oracle would "
            "be a knife edge — refusing to emit it")


def _round_half_up(x: float, digits: int) -> float:
    """Spark's Round(double, n): HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf == repr round-trip)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _auc_mann_whitney(scores, labels) -> float:
    """Exact average-rank AUC — the independent twin of
    operators/mlplane.exact_auc (same integer arithmetic)."""
    import numpy as np

    order = np.argsort(scores, kind="mergesort")
    s, y = np.asarray(scores)[order], np.asarray(labels)[order]
    n = len(s)
    npos = int(y.sum())
    nneg = n - npos
    if not npos or not nneg:
        return float("nan")
    r2 = 0
    i = 0
    below = 0
    while i < n:
        j = i
        while j < n and s[j] == s[i]:
            j += 1
        c = j - i
        rank2 = 2 * below + c + 1          # 2 × average rank of the tie run
        r2 += rank2 * int(y[i:j].sum())
        below += c
        i = j
    return (r2 - npos * (npos + 1)) / (2.0 * npos * nneg)


_SQL_ML_RAW_TAIL = """
SELECT event_type, bucket, devdt / sigma AS z, devdt, bias, sigma, y
FROM scored ORDER BY event_type, bucket
"""


@lru_cache(maxsize=4)
def ml_signals_truth(sf_dir: str) -> dict:
    """q29's discrete surface from an independent Newton solve over
    the DuckDB-computed dataset: {(event_type, bucket): (prob4,
    signal)}, plus accuracy/auc (round-6)."""
    import numpy as np

    from .stateful import _SQL_ML_SCORED  # lazy: stateful imports us

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(_SQL_ML_SCORED + _SQL_ML_RAW_TAIL).fetchall()
    et = np.array([r[0] for r in rows])
    bucket = np.array([int(r[1]) for r in rows], dtype=np.int64)
    X = np.array([[r[2], r[3], r[4], r[5]] for r in rows], dtype=np.float64)
    y = np.array([r[6] for r in rows], dtype=np.float64)

    # mlplane.time_split's exact cut: smallest timestamp whose
    # cumulative count reaches ceil(0.7·n) — i.e. the sorted element
    # at that rank
    import math

    cut = np.sort(bucket)[math.ceil(0.7 * len(bucket)) - 1]
    tr = bucket <= cut
    w = _newton_logreg(_standardize(X[tr], X[tr]), y[tr])
    p_all = _sigmoid(_standardize(X, X[tr]) @ w[:4] + w[4])

    te = ~tr
    p_test = p_all[te]
    _assert_margin(_margin(p_test, 0.5), "test-set prediction")
    hits = int(((p_test >= 0.5) == (y[te] == 1)).sum())
    accuracy = hits / int(te.sum())
    auc = _auc_mann_whitney(p_test, y[te].astype(int))
    # AUC depends on the relative ORDER of test probabilities: any
    # cross-label adjacent pair closer than the solver-parity delta
    # can legitimately swap between Spark's converged L-BFGS and this
    # Newton solve (treeAggregate fold order wobbles the low bits),
    # each swap moving AUC by 1/(n₊·n₋). Bound the total wobble from
    # the data and require the quantization grid to dominate it —
    # measured: 42 swappable pairs at sf0.01 (wobble ≈ 3.5e-6) and a
    # 6.5e-6 wobble at sf0.1 — which is why auc pins at 1e-3
    # (round-6 sat 2e-7 from a midpoint; 1e-4 failed the 10×
    # bound at sf0.1).
    ys = y[te].astype(int)
    order = np.argsort(p_test, kind="mergesort")
    ps, yo = p_test[order], ys[order]
    gaps = np.diff(ps)
    cross = yo[1:] != yo[:-1]
    npos, nneg = int(ys.sum()), int(len(ys) - ys.sum())
    n_swappable = int(((gaps < 1e-7) & cross).sum())
    wobble = (n_swappable / (npos * nneg)) if npos and nneg else 0.0
    if auc == auc:  # skip the margin math for a single-class nan
        to_mid = abs(auc * 1e3 - np.floor(auc * 1e3) - 0.5) / 1e3
        _assert_margin(float(to_mid), "AUC quantization",
                       budget=max(10.0 * wobble, 1e-6))

    out = {}
    probs = []
    for t in sorted(set(et)):
        m = et == t
        i = np.flatnonzero(m)[np.argmax(bucket[m])]
        p = float(p_all[i])
        probs.append(p)
        # devdt < 0 holds for every dataset row by construction
        sig = "LONG" if p >= 0.6 else "NO TRADE"
        out[(t, int(bucket[i]))] = (_round_half_up(p, 4), sig)
    probs = np.array(probs)
    _assert_margin(_margin(probs, 0.6), "signal threshold")
    # distance to the 1e-4 quantization ties the literal pins; the
    # budget here is the solver-parity delta itself (measured 2.2e-8
    # Newton-vs-converged-L-BFGS at sf0.01, ×5 headroom) — unlike the
    # decision thresholds, a quantization tie only perturbs the 4th
    # decimal of a reported probability, so the tighter bound is the
    # honest one rather than a laxer copy of the threshold budget
    frac = np.abs(probs * 1e4 - np.floor(probs * 1e4) - 0.5) / 1e4
    _assert_margin(float(frac.min()), "probability quantization",
                   budget=1e-7)
    return {"signals": out,
            "accuracy": _round_half_up(accuracy, 6),
            "auc": _round_half_up(auc, 3)}


def oracle_ml_signals() -> str:
    from .stateful import _SQL_ML_SCORED

    t = ml_signals_truth(oracle_ctx.sf_dir())
    vals = ",\n  ".join(
        f"({_sq(et)},{b},{repr(p)},{_sq(sig)})"
        for (et, b), (p, sig) in sorted(t["signals"].items()))
    return _SQL_ML_SCORED + f"""
, pinned(event_type, bucket, prob, signal) AS (VALUES
  {vals})
SELECT p.event_type, CAST(p.bucket AS BIGINT) AS bucket,
       p.prob, p.signal,
       round(s.devdt / s.sigma, 6) AS z, round(s.devdt, 6) AS devdt,
       round(s.sigma, 6) AS sigma,
       {repr(t["accuracy"])} AS accuracy, {repr(t["auc"])} AS auc
FROM pinned p
JOIN scored s ON s.event_type = p.event_type AND s.bucket = p.bucket
ORDER BY p.prob DESC, p.event_type
"""


# ---------------------------------------------------------------------------
# q102: model-based quality filter — same Newton twin over the doc
# features (functions/text.py expressions re-derived in plain
# Python), hash15-split train set, integer keep-counts pinned.
# ---------------------------------------------------------------------------

_PUNCT = set(".,!?;:")


def _hash15(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _doc_features_py(text: str) -> list[float]:
    from ..functions.text import LANG_MARKERS, STOPWORDS

    toks = _WS.split(text.strip(" "))  # trim() = spaces only
    n = len(toks)
    feats = [
        float(n),
        (sum(len(t) for t in toks) / n) if n else 0.0,
        (sum(c in _PUNCT for c in text) / len(text)) if text else 0.0,
        (sum(t.lower() in STOPWORDS for t in toks) / n) if n else 0.0,
    ]
    for markers in LANG_MARKERS.values():
        ms = set(markers)
        feats.append((sum(t.lower() in ms for t in toks) / n) if n else 0.0)
    return feats


@lru_cache(maxsize=4)
def quality_filter_truth(sf_dir: str) -> list[tuple]:
    """q102's (y, n, n_pred_keep) rows from an independent solve."""
    import numpy as np

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    docs = con.sql(
        "SELECT doc_id, text, CAST(n_chars >= 300 AS INT) AS y "
        "FROM documents ORDER BY doc_id").fetchall()
    X = np.array([_doc_features_py(t) for _, t, _ in docs])
    y = np.array([r[2] for r in docs], dtype=np.float64)
    tr = np.array([_hash15(f"qf:{d}") % 100 < 70 for d, _, _ in docs])
    # l2 mirrors q102's reg_param (near-separable labels need the
    # penalty for a finite, unique, pinnable optimum)
    w = _newton_logreg(_standardize(X[tr], X[tr]), y[tr], l2=0.01)
    p = _sigmoid(_standardize(X, X[tr]) @ w[:-1] + w[-1])
    _assert_margin(_margin(p, 0.5), "keep prediction")
    pred = p > 0.5
    out = []
    for label in (0, 1):
        m = y == label
        out.append((label, int(m.sum()), int(pred[m].sum())))
    return out


def oracle_quality_filter() -> str:
    rows = quality_filter_truth(oracle_ctx.sf_dir())
    vals = ", ".join(f"({a},{b},{c})" for a, b, c in rows)
    return f"""
SELECT CAST(y AS INTEGER) AS y, CAST(n AS BIGINT) AS n,
       CAST(n_pred_keep AS BIGINT) AS n_pred_keep
FROM (VALUES {vals}) AS t(y, n, n_pred_keep)
ORDER BY y
"""


# ---------------------------------------------------------------------------
# q73: PQ-ADC top-k — no training at all (hash-picked codebooks), so
# the ground truth is the same deterministic float pipeline run once
# in-process over the DuckDB-fetched vectors; sims are already
# floor-quantized at 1e-6 by the operator. The build asserts the
# rank-k boundary is strict so partition-local candidate selection
# can never reorder the quantized result.
# ---------------------------------------------------------------------------


def _train_books_np(mat, books, n_iter: int):
    """The ``pq_train_books`` Lloyd loop, verbatim single-process:
    per-subspace numpy argmin assignment (identical float64
    expressions to the Arrow kernel), component sums through
    shortest-repr decimal(38,18) (``Decimal(repr(v))`` + HALF_UP
    quantize == Spark's BigDecimal.valueOf + setScale — the
    lloyd_kmeans_truth parity), new centroid = ``float(sum) / count``
    in driver floats, an emptied code keeps its previous centroid.
    Decimal sums are fold-order-free, so this equals the distributed
    fold EXACTLY however Spark partitions the data."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    n_sub, _, sub_d = books.shape
    q18 = Decimal("1e-18")
    subs = mat.reshape(len(mat), n_sub, sub_d)
    for _ in range(n_iter):
        nxt = books.copy()
        for s in range(n_sub):
            d2 = ((subs[:, s, None, :] - books[s][None, :, :]) ** 2
                  ).sum(axis=2)
            codes = d2.argmin(axis=1)
            for c in np.unique(codes):
                sel = subs[codes == c, s, :]
                for p in range(sub_d):
                    tot = Decimal(0)
                    for v in sel[:, p]:
                        tot += Decimal(repr(float(v))).quantize(
                            q18, rounding=ROUND_HALF_UP)
                    nxt[s, c, p] = float(tot) / len(sel)
        books = nxt
    return books


@lru_cache(maxsize=4)
def pq_topk_truth(sf_dir: str, k: int = 5, n_sub: int | None = None,
                  n_cents: int | None = None) -> list[tuple]:
    import numpy as np

    # geometry defaults come FROM the operator module so a retuned
    # constant can never leave this replay stale (same discipline as
    # the IVF/LSH oracles' imports)
    from ..operators.similarity import PQ_CENTS, PQ_SUB, PQ_TRAIN_ITER

    n_sub = PQ_SUB if n_sub is None else n_sub
    n_cents = PQ_CENTS if n_cents is None else n_cents

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sub_d = d // n_sub
    hs = np.array([_hash15(f"pq:{i}") for i in ids])
    order = np.argsort(hs, kind="mergesort")[:n_cents]
    books = mat[order].reshape(len(order), n_sub, sub_d) \
        .transpose(1, 0, 2)
    books = _train_books_np(mat, books, PQ_TRAIN_ITER)

    qm = ids < 5
    qids = ids[qm]
    qmat = mat[qm]
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    tables = np.einsum("qsd,scd->qsc",
                       qmat.reshape(len(qids), n_sub, sub_d), books)

    norms = np.sqrt((mat * mat).sum(axis=1))
    subs = mat.reshape(len(mat), n_sub, sub_d)
    codes = np.empty((len(mat), n_sub), dtype=np.int64)
    for s in range(n_sub):
        d2 = ((subs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    approx = np.zeros((len(qids), len(mat)))
    for s in range(n_sub):
        approx += tables[:, s, codes[:, s]]
    sims = approx / (qnorms[:, None] * norms[None, :])

    out = []
    for qi, qid in enumerate(qids):
        row = sims[qi].copy()
        row[ids == qid] = -np.inf
        top = np.lexsort((ids, -row))
        qsim = np.floor(row * 1e6) / 1e6
        # the leading k+1 QUANTIZED sims must be strictly decreasing:
        # then the quantized order equals the raw order in the top-k
        # region, so the operator's partition-local raw top-k passes
        # and its global quantized re-rank agree with this full view
        # (a tie there would make the result partitioning-dependent)
        lead = [qsim[j] for j in top[:k + 1]]
        if sorted(set(lead), reverse=True) != lead:
            raise RuntimeError(
                "q73 ground truth: quantized sim ties inside the "
                "rank-k region — pinned top-k would be ambiguous")
        for r, j in enumerate(top[:k], start=1):
            out.append((int(qid), int(ids[j]), float(qsim[j]), r))
    return out


def oracle_pq_topk() -> str:
    rows = pq_topk_truth(oracle_ctx.sf_dir())
    vals = ",\n  ".join(
        f"({q},{c},{repr(s)},{r})" for q, c, s, r in rows)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       sim, CAST(rank AS INTEGER) AS rank
FROM (VALUES
  {vals}) AS t(qid, cid, sim, rank)
ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# q134: IVF-PQ top-k — one in-process replay of the full pipeline:
# the "ipq:"-salted coarse pick (hash-picked, untrained), the EXACT
# _nearest_cells ranking math (sequential cumsum folds — Spark's
# Arrow kernel runs the same numpy expressions), soft n_assign corpus
# assignment, n_probe query probing, pq_topk_truth's trained
# codes/tables (_train_books_np — bit-identical to the distributed
# trainer by the decimal-sum protocol), candidate = union of probed
# cells' members. The rank-k boundary is margin-asserted exactly as
# q73's so partition-local candidate selection can never reorder the
# quantized result.
# ---------------------------------------------------------------------------


def _rank_cells_np(vec, cent_mat, keep: int):
    """The _nearest_cells kernel's ranking, verbatim numpy: cumsum
    folds, -inf for zero norms, lexsort((cell, -sim))."""
    import numpy as np

    cells = np.arange(len(cent_mat), dtype=np.int64)
    cn = np.array([np.sqrt(np.cumsum(c * c)[-1]) if len(c) else 0.0
                   for c in cent_mat])
    va = np.asarray(vec, dtype=np.float64)
    nv = np.sqrt(np.cumsum(va * va)[-1]) if len(va) else 0.0
    sims = np.empty(len(cent_mat))
    for j, c in enumerate(cent_mat):
        denom = nv * cn[j]
        sims[j] = (np.cumsum(va * c)[-1] / denom
                   if denom != 0 else -np.inf)
    return [int(cells[j]) for j in np.lexsort((cells, -sims))[:keep]]


@lru_cache(maxsize=4)
def ivfpq_topk_truth(sf_dir: str, k: int = 5) -> list[tuple]:
    import numpy as np

    from ..operators.similarity import (IVF_ASSIGN, IVF_CELLS,
                                        IVF_PROBE, PQ_CENTS, PQ_SUB,
                                        PQ_TRAIN_ITER)

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sub_d = d // PQ_SUB

    # coarse quantizer: smallest hash15("ipq:"||id), ties by id (ids
    # are sorted ascending, so the stable sort IS the (h, id) order)
    chs = np.array([_hash15(f"ipq:{i}") for i in ids])
    corder = np.argsort(chs, kind="mergesort")[:IVF_CELLS]
    cent_mat = [mat[j] for j in corder]

    # codebooks/tables: the q73 pipeline verbatim (trained default)
    hs = np.array([_hash15(f"pq:{i}") for i in ids])
    order = np.argsort(hs, kind="mergesort")[:PQ_CENTS]
    books = mat[order].reshape(len(order), PQ_SUB, sub_d) \
        .transpose(1, 0, 2)
    books = _train_books_np(mat, books, PQ_TRAIN_ITER)
    norms = np.sqrt((mat * mat).sum(axis=1))
    subs = mat.reshape(len(mat), PQ_SUB, sub_d)
    codes = np.empty((len(mat), PQ_SUB), dtype=np.int64)
    for s in range(PQ_SUB):
        d2 = ((subs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)

    assigned = [set(_rank_cells_np(mat[i], cent_mat, IVF_ASSIGN))
                for i in range(len(ids))]

    qm = ids < 5
    qids = ids[qm]
    qmat = mat[qm]
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    tables = np.einsum("qsd,scd->qsc",
                       qmat.reshape(len(qids), PQ_SUB, sub_d), books)

    out = []
    for qi, qid in enumerate(qids):
        probe = set(_rank_cells_np(qmat[qi], cent_mat, IVF_PROBE))
        cand = np.array([i for i in range(len(ids))
                         if ids[i] != qid and assigned[i] & probe],
                        dtype=np.int64)
        approx = np.zeros(len(cand))
        for s in range(PQ_SUB):
            approx += tables[qi, s, codes[cand, s]]
        sims = approx / (qnorms[qi] * norms[cand])
        top = np.lexsort((ids[cand], -sims))
        qsim = np.floor(sims * 1e6) / 1e6
        lead = [qsim[j] for j in top[:k + 1]]
        if sorted(set(lead), reverse=True) != lead:
            raise RuntimeError(
                "q134 ground truth: quantized sim ties inside the "
                "rank-k region — pinned top-k would be ambiguous")
        for r, j in enumerate(top[:k], start=1):
            out.append((int(qid), int(ids[cand[j]]), float(qsim[j]), r))
    return out


# ---------------------------------------------------------------------------
# q141: landed PQ index lifecycle — the frozen-codebook twin of
# q125's frozen-quantizer oracle. Books are trained ON BATCH 0 ONLY
# (the first-increment freeze: hash15("pq:") seed over batch-0 ids,
# _train_books_np at PQ_TRAIN_ITER — bit-identical to the distributed
# trainer), codes cover everything ingested through the thin third
# increment, queries are the third increment scored against the full
# landed history. Margin-asserted like q73/q134.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4)
def pq_index_topk_truth(sf_dir: str, k: int, q_mod: int) -> list[tuple]:
    import numpy as np

    from ..operators.similarity import PQ_CENTS, PQ_SUB, PQ_TRAIN_ITER

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sub_d = d // PQ_SUB

    b0 = ids % 3 == 0
    ids0, mat0 = ids[b0], mat[b0]
    hs = np.array([_hash15(f"pq:{i}") for i in ids0])
    order = np.argsort(hs, kind="mergesort")[:PQ_CENTS]
    books = mat0[order].reshape(len(order), PQ_SUB, sub_d) \
        .transpose(1, 0, 2)
    books = _train_books_np(mat0, books, PQ_TRAIN_ITER)

    idx = (ids % 3 <= 1) | (ids % q_mod == 2)
    iids, imat = ids[idx], mat[idx]
    inorms = np.sqrt((imat * imat).sum(axis=1))
    isubs = imat.reshape(len(imat), PQ_SUB, sub_d)
    codes = np.empty((len(imat), PQ_SUB), dtype=np.int64)
    for s in range(PQ_SUB):
        d2 = ((isubs[:, s, None, :] - books[s][None, :, :]) ** 2
              ).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)

    qm = ids % q_mod == 2
    qids, qmat = ids[qm], mat[qm]
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    tables = np.einsum("qsd,scd->qsc",
                       qmat.reshape(len(qids), PQ_SUB, sub_d), books)

    out = []
    for qi, qid in enumerate(qids):
        approx = np.zeros(len(iids))
        for s in range(PQ_SUB):
            approx += tables[qi, s, codes[:, s]]
        sims = approx / (qnorms[qi] * inorms)
        row = sims.copy()
        row[iids == qid] = -np.inf
        top = np.lexsort((iids, -row))
        qsim = np.floor(row * 1e6) / 1e6
        lead = [qsim[j] for j in top[:k + 1]]
        if sorted(set(lead), reverse=True) != lead:
            raise RuntimeError(
                "q141 ground truth: quantized sim ties inside the "
                "rank-k region — pinned top-k would be ambiguous")
        for r, j in enumerate(top[:k], start=1):
            out.append((int(qid), int(iids[j]), float(qsim[j]), r))
    return out


# ---------------------------------------------------------------------------
# q142: landed IVF-PQ index lifecycle — q141's frozen-codebook oracle
# composed with the frozen coarse quantizer: BOTH quantizers freeze on
# batch 0 (cells hash-picked in the private "ipqx:" namespace, books
# hash15("pq:")-seeded + _train_books_np — bit-identical to the
# distributed trainer), codes+assignments cover everything ingested
# through the thin third increment, queries are the third increment
# probing IVF_PROBE cells against the full landed history. Candidate =
# assigned ∩ probed ≠ ∅ (the similarity._topk_kernel cell lookup);
# margin-asserted like q73/q134/q141.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4)
def ivfpq_index_topk_truth(sf_dir: str, k: int, q_mod: int,
                           ingest_third: bool = True,
                           delete_mod: int | None = None) -> list[tuple]:
    import numpy as np

    from ..operators.similarity import (IVF_ASSIGN, IVF_CELLS,
                                        IVF_PROBE, PQ_CENTS, PQ_SUB,
                                        PQ_TRAIN_ITER)

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sub_d = d // PQ_SUB

    b0 = ids % 3 == 0
    ids0, mat0 = ids[b0], mat[b0]
    # frozen coarse quantizer: smallest hash15("ipqx:"||id) over
    # BATCH 0 ids, ties by id (ids0 ascending → stable sort is the
    # (h, id) order _ivf_centroids materializes)
    chs = np.array([_hash15(f"ipqx:{i}") for i in ids0])
    corder = np.argsort(chs, kind="mergesort")[:IVF_CELLS]
    cent_mat = [mat0[j] for j in corder]
    # frozen books: hash15("pq:") seed over batch-0 ids, trained on
    # batch 0 only (the q141 freeze)
    hs = np.array([_hash15(f"pq:{i}") for i in ids0])
    order = np.argsort(hs, kind="mergesort")[:PQ_CENTS]
    books = mat0[order].reshape(len(order), PQ_SUB, sub_d) \
        .transpose(1, 0, 2)
    books = _train_books_np(mat0, books, PQ_TRAIN_ITER)

    # ingest_third=False is the q143 SERVING truth: the thin query
    # set is probed read-only against batches 0-1 only, never landed
    # (q_mod is a multiple of 3, so the query ids — ≡2 mod 3 — are
    # disjoint from the ingested corpus by construction).
    # delete_mod is the q146 TOMBSTONE truth: ids ≡0 mod delete_mod
    # were deleted from the landed index (both batches contribute
    # victims since delete_mod is not a multiple of 3), so they can
    # never appear as neighbors. NOTE the quantizers were frozen on
    # the FULL batch 0 — before the delete — so a deleted id may
    # still BE a centroid/codebook seed (its vector shaped the
    # geometry; deletion removes it from the INDEXED set only, the
    # production semantics of every frozen-quantizer service).
    idx = ((ids % 3 <= 1) | (ids % q_mod == 2)) if ingest_third \
        else (ids % 3 <= 1)
    if delete_mod is not None:
        idx = idx & (ids % delete_mod != 0)
    iids, imat = ids[idx], mat[idx]
    inorms = np.sqrt((imat * imat).sum(axis=1))
    isubs = imat.reshape(len(imat), PQ_SUB, sub_d)
    codes = np.empty((len(imat), PQ_SUB), dtype=np.int64)
    for s in range(PQ_SUB):
        d2 = ((isubs[:, s, None, :] - books[s][None, :, :]) ** 2
              ).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    assigned = [set(_rank_cells_np(imat[i], cent_mat, IVF_ASSIGN))
                for i in range(len(iids))]

    qm = ids % q_mod == 2
    qids, qmat = ids[qm], mat[qm]
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    tables = np.einsum("qsd,scd->qsc",
                       qmat.reshape(len(qids), PQ_SUB, sub_d), books)

    out = []
    for qi, qid in enumerate(qids):
        probe = set(_rank_cells_np(qmat[qi], cent_mat, IVF_PROBE))
        cand = np.array([i for i in range(len(iids))
                         if iids[i] != qid and assigned[i] & probe],
                        dtype=np.int64)
        approx = np.zeros(len(cand))
        for s in range(PQ_SUB):
            approx += tables[qi, s, codes[cand, s]]
        sims = approx / (qnorms[qi] * inorms[cand])
        top = np.lexsort((iids[cand], -sims))
        qsim = np.floor(sims * 1e6) / 1e6
        lead = [qsim[j] for j in top[:k + 1]]
        if sorted(set(lead), reverse=True) != lead:
            raise RuntimeError(
                "q142/q143 ground truth: quantized sim ties inside "
                "the rank-k region — pinned top-k would be ambiguous")
        for r, j in enumerate(top[:k], start=1):
            out.append((int(qid), int(iids[cand[j]]), float(qsim[j]), r))
    return out


# ---------------------------------------------------------------------------
# q145: two-stage serving — the q143 probe widened to an ADC
# shortlist, then EXACT-cosine reranked against the raw corpus
# vectors. Shortlist selection needs no margin (Spark's kernel and
# this replay run the identical fp64 op order, and both tiebreak by
# cid); the FINAL rank-k boundary is margin-asserted on the floored
# EXACT sims like q73/q141/q142.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4)
def ivfpq_rerank_truth(sf_dir: str, k: int, q_mod: int,
                       shortlist_k: int) -> list[tuple]:
    import numpy as np

    from ..operators.similarity import (IVF_ASSIGN, IVF_CELLS,
                                        IVF_PROBE, PQ_CENTS, PQ_SUB,
                                        PQ_TRAIN_ITER)

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sub_d = d // PQ_SUB

    b0 = ids % 3 == 0
    ids0, mat0 = ids[b0], mat[b0]
    chs = np.array([_hash15(f"ipqx:{i}") for i in ids0])
    corder = np.argsort(chs, kind="mergesort")[:IVF_CELLS]
    cent_mat = [mat0[j] for j in corder]
    hs = np.array([_hash15(f"pq:{i}") for i in ids0])
    order = np.argsort(hs, kind="mergesort")[:PQ_CENTS]
    books = mat0[order].reshape(len(order), PQ_SUB, sub_d) \
        .transpose(1, 0, 2)
    books = _train_books_np(mat0, books, PQ_TRAIN_ITER)

    idx = ids % 3 <= 1                     # serve-only corpus
    iids, imat = ids[idx], mat[idx]
    inorms = np.sqrt((imat * imat).sum(axis=1))
    isubs = imat.reshape(len(imat), PQ_SUB, sub_d)
    codes = np.empty((len(imat), PQ_SUB), dtype=np.int64)
    for s in range(PQ_SUB):
        d2 = ((isubs[:, s, None, :] - books[s][None, :, :]) ** 2
              ).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    assigned = [set(_rank_cells_np(imat[i], cent_mat, IVF_ASSIGN))
                for i in range(len(iids))]

    qm = ids % q_mod == 2
    qids, qmat = ids[qm], mat[qm]
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    tables = np.einsum("qsd,scd->qsc",
                       qmat.reshape(len(qids), PQ_SUB, sub_d), books)

    out = []
    for qi, qid in enumerate(qids):
        probe = set(_rank_cells_np(qmat[qi], cent_mat, IVF_PROBE))
        cand = np.array([i for i in range(len(iids))
                         if iids[i] != qid and assigned[i] & probe],
                        dtype=np.int64)
        approx = np.zeros(len(cand))
        for s in range(PQ_SUB):
            approx += tables[qi, s, codes[cand, s]]
        sims = approx / (qnorms[qi] * inorms[cand])
        short = np.lexsort((iids[cand], -sims))[:shortlist_k]
        scand = cand[short]
        # exact rerank: the sequential cumsum fold == Spark's HOF
        # cosine() expression bit-for-bit (the _nearest_cells parity)
        va = qmat[qi]
        nv = np.sqrt(np.cumsum(va * va)[-1])
        exact = np.empty(len(scand))
        for j, ci in enumerate(scand):
            cb = imat[ci]
            nc = np.sqrt(np.cumsum(cb * cb)[-1])
            exact[j] = np.cumsum(va * cb)[-1] / (nv * nc)
        top = np.lexsort((iids[scand], -exact))
        qsim = np.floor(exact * 1e6) / 1e6
        lead = [qsim[j] for j in top[:k + 1]]
        if sorted(set(lead), reverse=True) != lead:
            raise RuntimeError(
                "q145 ground truth: quantized exact sim ties inside "
                "the rank-k region — pinned top-k would be ambiguous")
        for r, j in enumerate(top[:k], start=1):
            out.append((int(qid), int(iids[scand[j]]),
                        float(qsim[j]), r))
    return out


def oracle_ivfpq_rerank(k: int, q_mod: int, shortlist_k: int) -> str:
    rows = ivfpq_rerank_truth(oracle_ctx.sf_dir(), k, q_mod,
                              shortlist_k)
    vals = ",\n  ".join(
        f"({q},{c},{repr(s)},{r})" for q, c, s, r in rows)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       sim, CAST(rank AS INTEGER) AS rank
FROM (VALUES
  {vals}) AS t(qid, cid, sim, rank)
ORDER BY qid, rank
"""


def oracle_ivfpq_index_topk(k: int, q_mod: int,
                            ingest_third: bool = True,
                            delete_mod: int | None = None) -> str:
    rows = ivfpq_index_topk_truth(oracle_ctx.sf_dir(), k, q_mod,
                                  ingest_third, delete_mod)
    vals = ",\n  ".join(
        f"({q},{c},{repr(s)},{r})" for q, c, s, r in rows)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       sim, CAST(rank AS INTEGER) AS rank
FROM (VALUES
  {vals}) AS t(qid, cid, sim, rank)
ORDER BY qid, rank
"""


def oracle_pq_index_topk(k: int, q_mod: int) -> str:
    rows = pq_index_topk_truth(oracle_ctx.sf_dir(), k, q_mod)
    vals = ",\n  ".join(
        f"({q},{c},{repr(s)},{r})" for q, c, s, r in rows)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       sim, CAST(rank AS INTEGER) AS rank
FROM (VALUES
  {vals}) AS t(qid, cid, sim, rank)
ORDER BY qid, rank
"""


def oracle_ivfpq_topk() -> str:
    rows = ivfpq_topk_truth(oracle_ctx.sf_dir())
    vals = ",\n  ".join(
        f"({q},{c},{repr(s)},{r})" for q, c, s, r in rows)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
       sim, CAST(rank AS INTEGER) AS rank
FROM (VALUES
  {vals}) AS t(qid, cid, sim, rank)
ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# Lloyd k-means ground truth (q128): a from-scratch single-process
# replay of operators/similarity.lloyd_kmeans — same hash15 seed pick,
# same sequential-fold cosines (numpy cumsum == Spark's HOF left
# fold), same shortest-repr decimal(38,18) component sums (python
# Decimal(repr(v)) + HALF_UP quantize == Spark's BigDecimal.valueOf +
# setScale), same driver-side float(Decimal) normalization. Every
# argmax decision is margin-asserted and every pinned output is an
# integer (floor micro-units, boundary-margin asserted), so the
# VALUES oracle is immune to sub-margin float wobble.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4)
def lloyd_kmeans_truth(sf_dir: str, k: int | None = None,
                       n_iter: int | None = None,
                       salt: str = "lloyd") -> list[tuple]:
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    if k is None or n_iter is None:
        # geometry follows the query constants (the pq_topk_truth
        # rule: a retuned constant can never leave this replay stale)
        from .llmdata import LLOYD_ITER, LLOYD_K
        k = LLOYD_K if k is None else k
        n_iter = LLOYD_ITER if n_iter is None else n_iter

    assert sf_dir == oracle_ctx.sf_dir()
    con = oracle_ctx.connect()
    rows = con.sql(
        "SELECT vec_id, embedding FROM embeddings "
        "WHERE embedding IS NOT NULL ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    sq = np.cumsum(mat * mat, axis=1)[:, -1]
    # finite positive norm only — the operator's NaN/inf exclusion
    keep = np.isfinite(sq) & (sq > 0)
    ids, mat, sq = ids[keep], mat[keep], sq[keep]
    u = mat / np.sqrt(sq)[:, None]
    dim = u.shape[1]

    hs = np.array([_hash15(f"{salt}:{i}") for i in ids])
    order = np.lexsort((ids, hs))[:k]
    cents = u[order].copy()

    q18 = Decimal("1e-18")
    cos = None
    best = None
    for t in range(n_iter):
        cos = np.cumsum(u[:, None, :] * cents[None, :, :],
                        axis=2)[:, :, -1]
        best = cos.argmax(axis=1)  # first max == smallest cell
        srt = np.sort(cos, axis=1)
        if k > 1 and (srt[:, -1] - srt[:, -2] < 1e-9).any():
            raise RuntimeError(
                "q128 ground truth: assignment margin < 1e-9 — the "
                "pinned clustering would be float-wobble-ambiguous")
        if t == n_iter - 1:
            break
        nxt = cents.copy()
        for c in range(k):
            m = best == c
            if not m.any():
                continue  # emptied cell keeps its centroid
            comps = []
            for p in range(dim):
                s = Decimal(0)
                for v in u[m, p]:
                    s += Decimal(repr(float(v))).quantize(
                        q18, rounding=ROUND_HALF_UP)
                comps.append(float(s))
            nn = 0.0
            for v in comps:
                nn += v * v
            nn = math.sqrt(nn)
            if nn > 0:
                nxt[c] = np.array(comps) / nn
        cents = nxt

    bc = cos[np.arange(len(u)), best]
    scaled = bc * 1e6
    qv = np.floor(scaled)
    frac = scaled - qv
    if ((frac < 1e-6) | (frac > 1 - 1e-6)).any():
        raise RuntimeError(
            "q128 ground truth: a quantized cosine sits within 1e-6 "
            "scaled units of its floor boundary — the pinned sums "
            "would be float-wobble-ambiguous")
    out = []
    for c in range(k):
        m = best == c
        if not m.any():
            continue
        out.append((int(c), int(m.sum()), int(qv[m].sum())))
    return out


def oracle_lloyd_kmeans() -> str:
    rows = lloyd_kmeans_truth(oracle_ctx.sf_dir())
    if not rows:
        # degenerate fixture (every embedding NULL/zero/non-finite):
        # "FROM (VALUES )" is a DuckDB syntax error, so emit an
        # explicit empty relation with the same schema — the
        # literal_df-fallback discipline of q127's Spark side
        return """
SELECT CAST(NULL AS INT) AS cell, CAST(NULL AS BIGINT) AS n_vecs,
       CAST(NULL AS BIGINT) AS sum_cos_u6
WHERE false
"""
    vals = ",\n  ".join(f"({c},{n},{s})" for c, n, s in rows)
    return f"""
SELECT CAST(cell AS INT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(sum_cos_u6 AS BIGINT) AS sum_cos_u6
FROM (VALUES
  {vals}) AS t(cell, n_vecs, sum_cos_u6)
ORDER BY cell
"""
