"""Interleaved A/B timing harness, contention-aware.

The host shows hypervisor contention episodes (BASELINE.md round 4/11
notes) that inflate identical code 1.5-4x for minutes at a time, so a
sequential before/after comparison is meaningless. This harness runs the
variants INTERLEAVED for R rounds with the bench's data-independent
calibration probe bracketing each round, and reports per-variant minima
(the standard estimator under asymmetric scheduling noise) plus the probe
minimum so the host state during the experiment is part of the record.

Usage: import from an experiment script (git show b9babdb:tools/ holds
the round-13/14 ones).
"""

from __future__ import annotations

import time


def _spin1(n: int = 20_000_000) -> float:
    t0 = time.time()
    x = 0
    for i in range(n):
        x += i * i
    return time.time() - t0


def _spin(n: int = 8_000_000) -> float:
    """32-process spin: the hypervisor contention that skews Spark is
    multi-core co-tenancy — the 1-core spin reads calm right through it."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.Pool(32) as p:
        p.map(_spin1, [n] * 32)
    return time.time() - t0


#: Calm-host 32-core spin reference on this machine (measured idle).
SPIN_CALM_SEC = 0.65


def wait_calm(max_wait: float = 600.0, threshold: float = 1.25) -> float:
    """Block until the 1-core spin probe is within ``threshold`` of the
    calm reference (hypervisor contention episodes last minutes); returns
    the last probe ratio. Cheap (~1 s per poll), Spark-independent."""
    t0 = time.time()
    while True:
        r = _spin() / SPIN_CALM_SEC
        if r <= threshold or time.time() - t0 > max_wait:
            return r
        time.sleep(20)


def run_ab(spark, variants: dict, rounds: int = 4, probe=None,
           calm: bool = True) -> dict:
    """variants: name -> zero-arg callable returning a DataFrame to drain
    through the noop sink. Returns {name: [times...], "_probe": [...]}."""
    if probe is None:
        import bench

        probe = lambda: bench.calibration_probe(spark)  # noqa: E731
    out: dict[str, list] = {name: [] for name in variants}
    out["_probe"] = []
    out["_spin"] = []
    for r in range(rounds):
        if calm:
            out["_spin"].append(round(wait_calm(), 2))
        out["_probe"].append(probe())
        # alternate execution order per round: host contention decays on
        # a minutes timescale, so a fixed order systematically favors
        # later variants (measured ±30% on identical-code control pairs)
        order = list(variants.items())
        if r % 2:
            order.reverse()
        for name, fn in order:
            spark.sparkContext.setJobDescription(f"ab {name} r{r}")
            t0 = time.time()
            df = fn()
            if df is not None:
                df.write.mode("overwrite").format("noop").save()
            out[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    return out


def summarize(result: dict) -> str:
    lines = []
    for name, ts in result.items():
        lines.append(
            f"{name:>28}: min={min(ts):6.3f}  all={ts}"
        )
    return "\n".join(lines)
