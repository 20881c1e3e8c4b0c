"""Seeded input generator for the benchmark workloads.

Writes a call log as ``events.parquet/part-NNNNN.parquet`` (one file per
micro-batch of a file stream) plus ``customer.parquet``, both in the testdata
schema the package's role mapping reads (``sources/parquet.py``): events
``(event_id, ts, user_id, event_type, value, props)`` and customers
``(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)``.

The same seed and parameters give byte-identical files: every value comes
from one ``numpy`` generator and the parquet writer embeds no clock.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3_600_000_000
GRACE_H = 24  # the streams' watermark delay (KS 2.6 default grace)
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENT_TYPES = pa.array(["call", "sms", "data", "roam"])
SEGMENTS = pa.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])


@dataclass(frozen=True)
class GenParams:
    calls_per_file: int
    files: int
    phones: int
    zipf: float  # 0 = uniform phones, else P(rank k) ~ k**-zipf
    jitter_h: float  # out-of-order lateness, kept inside the grace
    late_share: float  # share of calls that arrive late by up to jitter_h
    span_h: int  # event-time span of the whole log
    customers: int  # customer keys 0..customers-1; phones past it have none
    churned_share: float  # customers with negative balance (left out by the join side)

    def __post_init__(self) -> None:
        # a call later than grace minus one window could land in an evicted
        # window and be dropped, and the streams would then differ from the
        # batch oracle
        if not 0 <= self.jitter_h < GRACE_H - 1:
            raise ValueError(f"jitter_h must be in [0, {GRACE_H - 1})")

    def to_dict(self) -> dict:
        return asdict(self)


def _phones(rng: np.random.Generator, p: GenParams, n: int) -> np.ndarray:
    if p.zipf <= 0:
        return rng.integers(0, p.phones, n)
    w = 1.0 / np.arange(1, p.phones + 1) ** p.zipf
    # random rank -> key mapping so the hot key is not always key 0
    keys = rng.permutation(p.phones)
    return keys[rng.choice(p.phones, n, p=w / w.sum())]


def generate(out_dir: str, p: GenParams, seed: int) -> dict:
    """Write the inputs under ``out_dir`` and return their input statistics."""
    rng = np.random.default_rng(seed)
    n = p.calls_per_file * p.files
    # arrival order is file order; each file covers the next slice of the span
    slot = p.span_h * HOUR_US / p.files
    file_idx = np.repeat(np.arange(p.files), p.calls_per_file)
    ts = T0_US + (file_idx * slot + rng.random(n) * slot).astype(np.int64)
    late = rng.random(n) < p.late_share
    ts -= (late * rng.random(n) * p.jitter_h * HOUR_US).astype(np.int64)
    user = _phones(rng, p, n).astype(np.int64)
    value = np.round(rng.uniform(1.0, 600.0, n), 2)
    etype = EVENT_TYPES.take(rng.integers(0, len(EVENT_TYPES), n))
    props = PROPS.take(rng.integers(0, len(PROPS), n))

    ev_dir = os.path.join(out_dir, "events.parquet")
    os.makedirs(ev_dir)
    for f in range(p.files):
        s = slice(f * p.calls_per_file, (f + 1) * p.calls_per_file)
        table = pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)[s]),
                "ts": pa.array(ts[s], pa.timestamp("us")),
                "user_id": pa.array(user[s]),
                "event_type": etype[s],
                "value": pa.array(value[s]),
                "props": props[s],
            }
        )
        pq.write_table(table, os.path.join(ev_dir, f"part-{f:05d}.parquet"))

    c = p.customers
    churned = rng.random(c) < p.churned_share
    bal = np.round(rng.uniform(0.0, 9999.99, c), 2)
    bal[churned] = -np.round(rng.uniform(0.01, 999.99, churned.sum()), 2)
    keys = np.arange(c, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys),
                "c_name": pa.array(np.char.add("Customer#", np.char.zfill(keys.astype(str), 9))),
                "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
                "c_acctbal": pa.array(bal),
                "c_mktsegment": SEGMENTS.take(rng.integers(0, len(SEGMENTS), c)),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    counts = np.bincount(user, minlength=p.phones)
    windows = np.unique(user * (p.span_h + 2 * GRACE_H) + (ts - T0_US) // HOUR_US)
    active = np.zeros(max(p.phones, c), bool)
    active[keys[~churned]] = True
    return {
        "events": int(n),
        "distinct_keys": int((counts > 0).sum()),
        "top1_key_share": round(float(counts.max() / n), 6),
        "calls_per_window": round(n / len(windows), 3),
        "late_share": round(float(late.mean()), 6),
        "no_customer_share": round(float(1 - active[user].mean()), 6),
        "events_bytes": sum(
            os.path.getsize(os.path.join(ev_dir, f)) for f in os.listdir(ev_dir)
        ),
    }
