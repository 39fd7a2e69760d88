"""Seeded input generators for the two workloads.

Every input the engine sees is made here, from the run's seed, before the
benchmark JVM starts. The same seed gives byte-identical inputs.

- ``stream``: staged micro-batches of events for medallion_stream, with
  planted duplicates, stragglers, late rows and invalid rows.
- ``lake``: an initial Silver load plus one CDC batch and one read request
  per lake_dml round.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
JAN_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us, tz=None):
    return pa.array(us, type=pa.timestamp("us", tz=tz))


def _cents(rng, n, hi=50_000):
    # whole cents, so DECIMAL(18,2) casts are exact in Spark and DuckDB
    return np.round(rng.integers(0, hi, n) / 100.0, 2)


# ---------------------------------------------------------------- stream

SLICE_S = 1800        # event time covered by one micro-batch
STREAM_RATES = {"dup_same_batch": 0.02, "redelivered": 0.02,
                "straggler": 0.02, "late": 0.01, "null_user": 0.01,
                "negative_value": 0.01, "outside_january": 0.01}


def gen_stream(out, seed, n_batches, batch_events):
    """Staged event batches. Batch i covers event time
    [T0 + i*SLICE_S, T0 + (i+1)*SLICE_S); its last 5 s hold a dense tail
    so the next batch can redeliver rows that are still inside the 10 s
    lateness. Planted rows, per batch (rates of `batch_events`):

    - exact copies of rows of the same batch, and redelivered copies of
      the previous batch's tail (ts within 5 s of its max): both dropped
      by the dedup, never by the watermark;
    - stragglers 1-4 s behind the previous batch's max: kept;
    - late rows 60-600 s behind it: dropped by the watermark;
    - invalid rows: null user, negative value, or ts outside January.
    """
    rng = np.random.default_rng([seed, 2])
    t0 = JAN_START_US + int(rng.integers(0, 20)) * DAY_US
    slice_us, s_us = SLICE_S * 1_000_000, 1_000_000
    used_ts = set()
    next_id = 0
    prev_tail, prev_max = None, None
    planted = {k: 0 for k in STREAM_RATES}
    os.makedirs(f"{out}/staged", exist_ok=True)

    def fresh_ts(lo, hi, n):
        got = []
        while len(got) < n:
            for t in rng.integers(lo, hi, n - len(got)):
                t = int(t)
                if t not in used_ts:
                    used_ts.add(t)
                    got.append(t)
        return got

    def rows(ts, users=None, values=None):
        nonlocal next_id
        n = len(ts)
        ids = list(range(next_id, next_id + n))
        next_id += n
        return {"event_id": ids, "ts": list(ts),
                "user_id": list(users if users is not None
                                else rng.integers(0, 2000, n).tolist()),
                "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
                "value": list(values if values is not None
                              else _cents(rng, n).tolist()),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}

    def cat(*parts):
        return {k: sum((p[k] for p in parts), []) for k in parts[0]}

    for i in range(n_batches):
        k = {r: int(round(batch_events * x)) for r, x in STREAM_RATES.items()}
        if i == 0:  # no watermark yet: nothing can be late or redelivered
            k["redelivered"] = k["straggler"] = k["late"] = 0
        lo = t0 + i * slice_us
        n_tail = max(20, batch_events // 40)
        n_base = batch_events - sum(k.values()) - n_tail
        base = rows(fresh_ts(lo, lo + slice_us - 5 * s_us, n_base))
        tail = rows(fresh_ts(lo + slice_us - 5 * s_us, lo + slice_us, n_tail))
        valid = cat(base, tail)
        parts = [base, tail]
        if k["dup_same_batch"]:
            idx = rng.choice(len(valid["ts"]), k["dup_same_batch"], replace=False)
            parts.append({c: [valid[c][j] for j in idx] for c in valid})
        if k["redelivered"]:
            idx = rng.choice(len(prev_tail["ts"]), k["redelivered"])
            parts.append({c: [prev_tail[c][j] for j in idx] for c in prev_tail})
        if k["straggler"]:
            parts.append(rows(fresh_ts(prev_max - 4 * s_us, prev_max - s_us,
                                       k["straggler"])))
        if k["late"]:
            parts.append(rows(fresh_ts(prev_max - 600 * s_us,
                                       prev_max - 60 * s_us, k["late"])))
        if k["null_user"]:
            parts.append(rows(fresh_ts(lo, lo + slice_us, k["null_user"]),
                              users=[None] * k["null_user"]))
        if k["negative_value"]:
            parts.append(rows(fresh_ts(lo, lo + slice_us, k["negative_value"]),
                              values=(-_cents(rng, k["negative_value"]) - 0.01)
                              .tolist()))
        if k["outside_january"]:
            n = k["outside_january"]
            before = fresh_ts(JAN_START_US - 3 * DAY_US, JAN_START_US, n // 2)
            after = fresh_ts(JAN_START_US + 31 * DAY_US,
                             JAN_START_US + 34 * DAY_US, n - n // 2)
            parts.append(rows(before + after))
        for r in planted:
            planted[r] += k[r]
        batch = cat(*parts)
        order = rng.permutation(len(batch["ts"]))
        batch = {c: [batch[c][j] for j in order] for c in batch}
        table = pa.table({
            "event_id": pa.array(batch["event_id"], pa.int64()),
            "ts": _ts(batch["ts"], tz="UTC"),
            "user_id": pa.array(batch["user_id"], pa.int64()),
            "event_type": pa.array(batch["event_type"], pa.string()),
            "value": pa.array(batch["value"], pa.float64()),
            "props": pa.array(batch["props"], pa.string())})
        _write(table, f"{out}/staged/batch-{i:05d}.parquet")
        prev_tail, prev_max = tail, max(tail["ts"])
    return {"batches": n_batches, "batch_events": batch_events,
            "planted": planted}


# ---------------------------------------------------------------- lake

LAKE_RECENT_DAYS = 3  # CDC keys and reads favour the last days of January


def gen_lake(out, seed, rounds, initial_rows, cdc_rows):
    """Initial Silver load for the lake table, then per round one CDC batch
    (60% updates, 10% deletes, 30% inserts; inserts and 80% of the other
    keys on the last LAKE_RECENT_DAYS dates, the rest on one older date)
    and one read request (the last 1-3 dates in turn, plus a few keys).
    Keys within one CDC batch are distinct, as MERGE requires."""
    rng = np.random.default_rng([seed, 3])
    n = initial_rows
    ts = np.sort(JAN_START_US + rng.integers(0, 31 * DAY_US, n))
    ids = np.arange(n, dtype=np.int64)
    users = rng.integers(0, 5000, n)
    types = rng.integers(0, 5, n)
    _write(_lake_table(ids, users, types, ts, _cents(rng, n)),
           f"{out}/initial.parquet")
    # the generator's own key bookkeeping only decides which keys a batch
    # names; the expected table is replayed separately (oracle.py)
    live_date = dict(zip(ids.tolist(), (ts // DAY_US).tolist()))
    recent_day0 = (JAN_START_US // DAY_US) + 31 - LAKE_RECENT_DAYS
    next_id = n
    reads = []
    os.makedirs(f"{out}/cdc", exist_ok=True)
    for r in range(rounds):
        n_upd, n_del = int(cdc_rows * 0.6), int(cdc_rows * 0.1)
        n_ins = cdc_rows - n_upd - n_del
        live = np.fromiter(live_date.keys(), dtype=np.int64)
        days = np.fromiter(live_date.values(), dtype=np.int64)
        # 80% of the touched keys on the recent dates, the rest on one
        # older date, so a MERGE rewrites a few partitions, not the table
        old_day = recent_day0 - 1 - int(rng.integers(0, 31 - LAKE_RECENT_DAYS))
        recent, older = live[days >= recent_day0], live[days == old_day]
        n_recent = int((n_upd + n_del) * 0.8)
        pick = np.concatenate([
            rng.choice(recent, n_recent, replace=False),
            rng.choice(older, n_upd + n_del - n_recent, replace=False)])
        rng.shuffle(pick)
        upd, dele = pick[:n_upd], pick[n_upd:]
        ins = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        ins_ts = (recent_day0 * DAY_US +
                  rng.integers(0, LAKE_RECENT_DAYS * DAY_US, n_ins))
        # an update may move the event inside its own day only, so the
        # partition key (event_date) of a live key never changes
        upd_day = np.array([live_date[int(k)] for k in upd], dtype=np.int64)
        upd_ts = upd_day * DAY_US + rng.integers(0, DAY_US, n_upd)
        del_day = np.array([live_date[int(k)] for k in dele], dtype=np.int64)
        keys = np.concatenate([upd, dele, ins])
        t = np.concatenate([upd_ts, del_day * DAY_US, ins_ts])
        m = len(keys)
        cdc = _lake_table(keys, rng.integers(0, 5000, m), rng.integers(0, 5, m),
                          t, _cents(rng, m))
        cdc = cdc.append_column("op", pa.array(
            ["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins, pa.string()))
        _write(cdc, f"{out}/cdc/batch-{r:05d}.parquet")
        for k in dele.tolist():
            del live_date[k]
        for k, d in zip(ins.tolist(), (ins_ts // DAY_US).tolist()):
            live_date[k] = d
        # read request: the last `span` days, plus 5 keys (one deleted,
        # one just inserted, three random live ones); spans cycle through
        # 1..LAKE_RECENT_DAYS, so every run reads the same mix of ranges
        span = 1 + r % LAKE_RECENT_DAYS
        look = [int(dele[0]), int(ins[0])] + \
            rng.choice(np.fromiter(live_date.keys(), dtype=np.int64), 3,
                       replace=False).tolist()
        reads.append({"from_day": int(recent_day0 + LAKE_RECENT_DAYS - span),
                      "keys": look})
    return {"rounds": rounds, "initial_rows": n, "cdc_rows": cdc_rows,
            "reads": reads}


def _lake_table(ids, users, types, ts_us, values):
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in types], pa.string()),
        "event_ts": _ts(ts_us, tz="UTC"),
        "value": pa.array(values, pa.float64()),
        "event_date": pa.array((np.asarray(ts_us) // DAY_US).astype(np.int32),
                               pa.date32())})

