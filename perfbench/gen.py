"""Seeded inputs of the streaming workload.

The batch workload needs none: it reads the engine's testdata as
committed under perfbench/testdata, and its seed sets only the query
order of each pass.
"""
import numpy as np

# Shape of the streaming workload, shared by input generation here and the
# JVM side (run.py passes these to it): keys drawn per topology, records
# per topology in the untimed warm-up, and the closed-loop capacity phase
# of CLOSED_BATCHES batches of BATCH_ROWS records each.
KEYS = 2000
WARM_ROWS = 4000
CLOSED_BATCHES = 3
BATCH_ROWS = 10_000

# Stream records: 2025-01-01T00:00:00Z in epoch ms. On-time records advance
# by STEP_MS each; late ones lie 6-7 hours earlier, beyond every grace
# period and every retained window, so the references need not model the
# watermark's exact position.
T0_MS = 1_735_689_600_000
STEP_MS = 50
LATE_MS = 6 * 3_600_000
RECORD = np.dtype([("key", "<i4"), ("t", "<i8"), ("aux", "<f8")])


def zipf_keys(rng, n, keys, s=1.1):
    w = 1.0 / np.arange(1, keys + 1) ** s
    return rng.choice(keys, n, p=w / w.sum()).astype(np.int32)


def stream_records(seed, topo, n, warm, keys, late_frac=0.01):
    """`n` records for topology `topo` ("t4", "t7", "t8" or "t10").

    Keys are Zipf-skewed over `keys` keys; about `late_frac` of the records
    after the first `warm` are late, each for a key already seen in the
    warm-up prefix, so late records always meet existing state. For T8
    the records are orders (aux 0) merged in event-time order with their
    payments (aux 1, 0-10 s after 90 % of orders), keyed by order id; late
    orders get negative ids. For T10 aux is the order amount."""
    rng = np.random.default_rng([seed, int(topo[1:])])
    late = rng.random(n) < late_frac
    late[:warm] = False
    rec = np.zeros(n, RECORD)
    if topo == "t8":
        m = n  # orders drawn; trimmed to n merged rows below
        ot = T0_MS + np.arange(m, dtype=np.int64) * STEP_MS
        paid = rng.random(m) < 0.9
        pt = ot[paid] + rng.integers(0, 10_001, paid.sum())
        times = np.concatenate([ot, pt])
        ids = np.concatenate([np.arange(m), np.nonzero(paid)[0]]).astype(np.int32)
        side = np.concatenate([np.zeros(m), np.ones(paid.sum())])
        order = np.lexsort((side, times))[:n - late.sum()]
        on = np.nonzero(~late)[0]
        rec["key"][on], rec["t"][on], rec["aux"][on] = ids[order], times[order], side[order]
        rec["key"][late] = -(np.arange(late.sum(), dtype=np.int32) + 1)
    else:
        rec["key"] = zipf_keys(rng, n, keys)
        rec["t"][~late] = T0_MS + np.arange((~late).sum(), dtype=np.int64) * STEP_MS
        rec["key"][late] = rec["key"][rng.integers(0, warm, late.sum())]
        rec["aux"] = np.round(rng.uniform(0.0, 1000.0, n), 2)
    rec["t"][late] = T0_MS - LATE_MS - rng.integers(0, 3_600_000, late.sum())
    return rec


def write_stream(out_dir, seed, sizes):
    """Write `<out_dir>/stream-<topo>.bin` for each topology in `sizes`."""
    for topo, n in sizes.items():
        stream_records(seed, topo, n, WARM_ROWS, KEYS).tofile(f"{out_dir}/stream-{topo}.bin")
