"""Correctness checks against exact answers.  Each check is one counted
operation: a failure is counted against the attempts, never skipped."""

from __future__ import annotations

import math
import sys

import numpy as np

from associationabacminer_spark.sketch.xxhash import xxh64_keys, xxh64_pair_keys

HLL_SIGMAS = 3.0
# mid-quantile rank bound of a delta=200 t-digest (~4/delta) plus the
# mass of one SQL log-bin and the merge of partial digests
TD_RANK_TOL = 4.0 / 200.0 + 0.01
QUANTILES = (0.1, 0.5, 0.9)
# two 1%-target Bloom filters over the same keys, probed with 2000 absent keys
BLOOM_FPP_GAP = 0.02


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"check failed: {name}: {detail}", file=sys.stderr)
        return ok


def rank_interval(sorted_exact: np.ndarray, value: float) -> tuple[float, float]:
    """True rank of ``value`` as the interval [count(<v), count(<=v)]/n,
    which stays correct when the column has ties."""
    n = len(sorted_exact)
    return (
        np.searchsorted(sorted_exact, value, side="left") / n,
        np.searchsorted(sorted_exact, value, side="right") / n,
    )


def quantiles_ok(sketch, sorted_exact: np.ndarray, tol: float) -> tuple[bool, list]:
    bad = []
    for q in QUANTILES:
        lo, hi = rank_interval(sorted_exact, float(sketch.quantile(q)))
        if not lo - tol <= q <= hi + tol:
            bad.append((q, lo, hi))
    return not bad, bad


def hll_tolerance(hll, exact: int) -> float:
    return HLL_SIGMAS * 1.04 / math.sqrt(hll.m) * exact


def check_transcript_suite(checks: Checks, path: str, sk: dict, exact, sql: bool) -> None:
    """The five transcript sketches against the exact answers.  The map
    path hashes the JVM-side xxhash64 of each key again in the kernel; the
    SQL path reduces the xxhash64 values directly, so query keys differ."""
    hll = sk["hll_conv"]
    est = hll.estimate()
    checks.check(
        f"{path}.hll",
        abs(est - exact.distinct_convs) <= hll_tolerance(hll, exact.distinct_convs),
        (est, exact.distinct_convs),
    )

    cms = sk["cms_tool"]
    tools = sorted(exact.tool_counts)
    keys = xxh64_keys(tools)
    got = cms.query(keys, prehashed=True) if sql else cms.query(keys.view(np.int64))
    true = np.array([exact.tool_counts[t] for t in tools])
    slack = cms.eps * cms.total
    checks.check(
        f"{path}.cms",
        bool(((got >= true) & (got - true <= slack)).all()),
        (tools[:3], got[:3].tolist(), true[:3].tolist(), slack),
    )

    ok, bad = quantiles_ok(sk["kll_len"], exact.text_len, 2 * sk["kll_len"].rank_error)
    checks.check(f"{path}.kll", ok, bad)
    ok, bad = quantiles_ok(sk["td_latency"], exact.latency_s, TD_RANK_TOL)
    checks.check(f"{path}.tdigest", ok, bad)

    bloom = sk["bloom_conv"]
    if sql:
        present = bloom.contains_pairs(*xxh64_pair_keys(exact.present_convs))
    else:
        present = bloom.contains(xxh64_keys(exact.present_convs).view(np.int64))
    checks.check(f"{path}.bloom_no_false_negatives", bool(present.all()), int((~present).sum()))


def check_paths_agree(checks: Checks, a: dict, b: dict, exact) -> None:
    """The map and SQL builds of one table agree with each other."""
    ha, hb = a["hll_conv"].estimate(), b["hll_conv"].estimate()
    checks.check(
        "agree.hll",
        abs(ha - hb) <= 2 * hll_tolerance(a["hll_conv"], exact.distinct_convs),
        (ha, hb),
    )
    tools = sorted(exact.tool_counts)
    keys = xxh64_keys(tools)
    ca = a["cms_tool"].query(keys.view(np.int64))
    cb = b["cms_tool"].query(keys, prehashed=True)
    slack = max(a["cms_tool"].eps * a["cms_tool"].total, b["cms_tool"].eps * b["cms_tool"].total)
    checks.check("agree.cms", bool((np.abs(ca - cb) <= slack).all()), (ca[:3], cb[:3]))
    for name, column, tol in (
        ("kll_len", exact.text_len, 2 * a["kll_len"].rank_error),
        ("td_latency", exact.latency_s, TD_RANK_TOL),
    ):
        bad = []
        for q in QUANTILES:
            ra = rank_interval(column, float(a[name].quantile(q)))
            rb = rank_interval(column, float(b[name].quantile(q)))
            if ra[0] - rb[1] > 2 * tol or rb[0] - ra[1] > 2 * tol:
                bad.append((q, ra, rb))
        checks.check(f"agree.{name}", not bad, bad)
    absent = [f"absent-{i}" for i in range(2000)]
    fp_a = a["bloom_conv"].contains(xxh64_keys(absent).view(np.int64)).mean()
    fp_b = b["bloom_conv"].contains_pairs(*xxh64_pair_keys(absent)).mean()
    checks.check("agree.bloom_fpp", abs(fp_a - fp_b) <= BLOOM_FPP_GAP, (fp_a, fp_b))
