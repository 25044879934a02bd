"""The benchmark's seeded PageEvent projection and its independent recount.

Each generated row is a pure function of the source row's ``value``
(its offset) and the seed, so the rows a stream consumed can be
regenerated here with numpy and counted without Spark. The stream side
(`spark_projection`) and the recount side (`project`) must agree bit
for bit; the hash is a linear congruential step modulo a prime, which
stays inside 64-bit integers for every offset a run can reach.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

_MUL = 2654435761
_PRIME = 4294967291
WINDOW_MS = 5000
MIN_DURATION = 100  # the reference filter keeps duration > 100


def _offset(seed: int) -> int:
    return (seed * 40503 + 12345) % _PRIME


def project(values: np.ndarray, seed: int, pages: int) -> tuple[np.ndarray, np.ndarray]:
    """(page index, duration) for each source offset in ``values``.

    Durations are uniform in [10, 10009] like the reference supplier."""
    h = (values.astype(np.int64) * _MUL + _offset(seed)) % _PRIME
    return h % pages, 10 + (h // pages) % 10000


def page_name(index: int, pages: int) -> str:
    return f"P{index + 1}" if pages <= 2 else f"p{index}"


def spark_projection(raw, seed: int, pages: int):
    """The same projection as Column expressions over a rate source.

    Output columns match what `CountStore.start` reads: ``ts``,
    ``event_type`` (the page), ``user_id`` and ``value`` (the duration).
    """
    from pyspark.sql import functions as F

    h = (F.col("value") * F.lit(_MUL) + F.lit(_offset(seed))) % F.lit(_PRIME)
    page = h % F.lit(pages)
    if pages <= 2:
        name = F.concat(F.lit("P"), (page + F.lit(1)).cast("string"))
    else:
        name = F.concat(F.lit("p"), page.cast("string"))
    return raw.select(
        F.col("timestamp").alias("ts"),
        name.alias("event_type"),
        (F.lit(1) + F.floor(h / F.lit(pages * 10000)) % F.lit(2)).alias("user_id"),
        (F.lit(10) + F.floor(h / F.lit(pages)) % F.lit(10000)).alias("value"),
    )


def recount(values: np.ndarray, ts_ms: np.ndarray, seed: int, pages: int) -> Counter:
    """Filtered per-(page, window start ms) counts of the given rows."""
    page, duration = project(values, seed, pages)
    keep = duration > MIN_DURATION
    window = ts_ms[keep] // WINDOW_MS
    base = int(window.min()) if window.size else 0
    keys, n = np.unique((window - base) * pages + page[keep], return_counts=True)
    return Counter({
        (page_name(int(k % pages), pages), int((k // pages + base) * WINDOW_MS)): int(c)
        for k, c in zip(keys.tolist(), n.tolist())
    })


def compare_closed(store: dict, expected: Counter, closed_before_ms: float) -> list[str]:
    """Differences between a store snapshot and the recount over closed
    windows (end <= ``closed_before_ms``) that the store still retains.

    ``store`` maps (page, window start ms) -> count."""
    if not store:
        return ["store is empty"]
    oldest = min(ws for _, ws in store)
    closed = lambda ws: oldest <= ws and ws + WINDOW_MS <= closed_before_ms  # noqa: E731
    got = {k: v for k, v in store.items() if closed(k[1])}
    want = {k: v for k, v in expected.items() if closed(k[1])}
    if not want:
        return ["no closed window to check"]
    diffs = [
        f"{k}: store {got.get(k)} != recount {want.get(k)}"
        for k in sorted(set(got) | set(want))
        if got.get(k) != want.get(k)
    ]
    return diffs
