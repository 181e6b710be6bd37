"""Output checks. Each returns a list of failure descriptions, one per failed
operation, so failures count against the operations attempted."""
import numpy as np

STATUS = {0: "ok", 1: "failed", 2: "crashed"}


def acks(intended, counts, status):
    """Every pushed message is acked exactly once, with the status the
    generator intended (0 ok, 1 failed on purpose, 2 crashed)."""
    intended, counts, status = (np.asarray(a) for a in (intended, counts, status))
    out = []
    for i in np.nonzero(counts != 1)[0]:
        out.append(f"message {i} acked {int(counts[i])} times")
    for i in np.nonzero((counts == 1) & (status != intended))[0]:
        out.append(f"message {i} acked {STATUS[int(status[i])]}, intended {STATUS[int(intended[i])]}")
    return out


def batches(n, emit_us, trigger, ids, due_us, flush, size, timeout_ms):
    """KeyedBatcher: every message is in exactly one emitted batch, and each
    trigger label matches the batch's size, its flush message or its
    deadline. Returns (failures, emit latencies in ms)."""
    out, lat = [], []
    seen = np.zeros(n, dtype=np.int64)
    for e, t, b in zip(emit_us, trigger, ids):
        b = np.asarray(b, dtype=np.int64)
        np.add.at(seen, b, 1)
        first, last = due_us[b].min(), due_us[b].max()
        if t == "size" and len(b) == size:
            lat.append((e - last) / 1000.0)
        elif t == "flush" and len(b) <= size and flush[b[np.argmax(due_us[b])]]:
            lat.append((e - last) / 1000.0)
        elif t == "timeout" and len(b) < size and e >= first + timeout_ms * 1000:
            lat.append((e - first - timeout_ms * 1000) / 1000.0)
        else:
            out.append(f"batch of {len(b)} labelled {t} does not match its size or deadline")
    for i in np.nonzero(seen != 1)[0]:
        out.append(f"message {i} in {int(seen[i])} batches")
    return out, lat


def join_reference(left, right, within_ms):
    """Inner interval join r.ts in [l.ts, l.ts + within] on equal keys over
    the on-time rows. Sides are (ts, key, late) arrays; row ids are indexes.
    Returns (matched rows, sum of l_id * 2^20 + r_id)."""
    lts, lkey, llate = left
    rts, rkey, rlate = right
    li = np.nonzero(llate == 0)[0]
    ri = np.nonzero(rlate == 0)[0]
    big = np.int64(1) << 42
    base = np.int64(1) << 40
    rc = rkey[ri].astype(np.int64) * big + rts[ri] + base
    order = np.argsort(rc, kind="stable")
    rc, rid = rc[order], ri[order].astype(np.int64)
    prefix = np.concatenate([[0], np.cumsum(rid)])
    lc = lkey[li].astype(np.int64) * big + lts[li] + base
    lo = np.searchsorted(rc, lc, side="left")
    hi = np.searchsorted(rc, lc + within_ms, side="right")
    cnt = hi - lo
    checksum = int(np.sum(cnt * (li.astype(np.int64) << 20))) + int(np.sum(prefix[hi] - prefix[lo]))
    return int(cnt.sum()), checksum


def frames(oracle, spark):
    """Compare a query's output with the oracle's, as the repository's
    correctness gate does: columns by name, rows sorted, values as text.
    Returns None when equal, else the first difference."""
    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: str(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        return df
    o, s = normalize(oracle), normalize(spark)
    if list(o.columns) != list(s.columns):
        return f"columns differ: oracle {list(o.columns)} engine {list(s.columns)}"
    if len(o) != len(s):
        return f"row count differs: oracle {len(o)} engine {len(s)}"
    if len(o) == 0:
        return None
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    for c in o.columns:
        eq = o[c].astype(str) == s[c].astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: oracle {o[c].iloc[i]!r} engine {s[c].iloc[i]!r}"
    return None
