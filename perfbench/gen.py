"""Seeded input generators. The same seed gives the same files.

`taxi_etl` takes its monthly files from here, and `corpus_curation` and
`incremental_view` their documents; the SQL and view workloads derive
their statement and CDC batch streams inside the JVM from the same seed
(`java.util.Random`), since those are statements and small batches rather
than bulk files.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload and size ("full" for measurement, "tiny" for
# the self-test). Shares are fractions of a month's or a batch's rows.
SIZES = {
    "taxi_etl": {
        "full": {"rows_per_month": 10_000, "backlog": 2, "drops": 2},
        "tiny": {"rows_per_month": 2_000, "backlog": 2, "drops": 2},
    },
    "corpus_curation": {
        "full": {"warm_docs": 300, "backlog_docs": 3_000, "batch_docs": 1_000, "batches": 6},
        "tiny": {"warm_docs": 100, "backlog_docs": 400, "batch_docs": 300, "batches": 2},
    },
    # the document backlog the view's table is curated from
    "incremental_view": {
        "full": {"warm_docs": 300, "backlog_docs": 3_000, "batches": 0},
        "tiny": {"warm_docs": 100, "backlog_docs": 400, "batches": 0},
    },
}
TAXI_SHARES = {"duplicate_rows": 0.01, "wrong_month_rows": 0.01}
CORPUS_SHARES = {"short": 0.08, "contaminated": 0.03, "exact_dup": 0.03, "near_dup": 0.03}
VOCAB = 20_000


def _month(i):
    y, m = divmod(i, 12)
    return dt.datetime(2022 + y, m + 1, 1, tzinfo=dt.timezone.utc)


def taxi(out, seed, size):
    """Monthly events (event_id, ts, value) and the 19-column trip files
    derived from them: the backlog, one drifted file, then the drops. The
    checks replay the program's q26 oracle over the events."""
    cfg = SIZES["taxi_etl"][size]
    rng = np.random.default_rng(seed)
    roles = ["backlog"] * cfg["backlog"] + ["drifted"] + ["drop"] * cfg["drops"]
    lines = []
    for i, role in enumerate(roles):
        start, end = _month(12 + i), _month(13 + i)
        n = cfg["rows_per_month"]
        span_us = int((end - start).total_seconds() * 1e6)
        ids = i * 100_000_000 + np.arange(n, dtype=np.int64)
        ts = int(start.timestamp() * 1e6) + rng.integers(0, span_us, n)
        # rows from the following month: the filename check drops them
        wrong = rng.random(n) < TAXI_SHARES["wrong_month_rows"]
        ts[wrong] += span_us
        value = rng.random(n) * 400.0
        # exact duplicate rows: the cleaning dedup drops them
        dup = rng.choice(n, int(n * TAXI_SHARES["duplicate_rows"]), replace=False)
        ids, ts, value = (np.concatenate([a, a[dup]]) for a in (ids, ts, value))
        ym = start.strftime("%Y-%m")
        d = os.path.join(out, "taxi", "events", ym)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value": pa.array(value, pa.float64()),
        }), os.path.join(d, "events.parquet"))
        trips = _trips(ids, ts, value)
        if role == "drifted":
            # schema drift: a column the reader does not know, columns reordered
            trips = trips.append_column("cbd_congestion_fee",
                                        pa.array(np.full(len(ids), 0.75, np.float32)))
            trips = trips.select(trips.column_names[::-1])
        trips_dir = os.path.join(out, "taxi", "trips")
        os.makedirs(trips_dir, exist_ok=True)
        pq.write_table(trips, os.path.join(trips_dir, f"yellow_tripdata_{ym}.parquet"))
        lines.append(f"{role} {ym} {len(ids)}")
    with open(os.path.join(out, "taxi", "months.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _trips(ids, ts, value):
    """The 19-column trip file derived from events by the q26 fixture rules
    (`TaxiE2E.taxiFrame` in the program, replayed by its DuckDB oracle):
    nulls at fixed id residues, inverted timestamps, passenger counts out
    of range and total_amount off its components, all on a dyadic grid."""
    def col(v, typ, null_every=None):
        mask = None if null_every is None else ids % null_every == 0
        return pa.array(v, typ, mask=mask)
    fare = np.where(ids % 3 == 0, 8.0, np.where(ids % 3 == 1, 16.0, 32.0))
    extra = (ids % 5) / 4
    mta = (ids % 3) / 4
    tip = (np.floor(value * 8).astype(np.int64) % 16) / 4
    tolls = (ids % 2) * 1.25
    congestion = (ids % 2) / 2
    airport = (ids % 4) / 4
    total = fare + extra + mta + tip + tolls + 0.25 + congestion + airport \
        + np.where(ids % 7 == 0, 5.0, 0.0)
    dropoff = np.where(ids % 41 == 0, ts - 30 * 60_000_000, ts + (ids % 200) * 60_000_000)
    f32 = pa.float32()
    return pa.table({
        "VendorID": col(ids % 2 + 1, pa.int8(), 31),
        "tpep_pickup_datetime": col(ts, pa.timestamp("us", tz="UTC")),
        "tpep_dropoff_datetime": col(dropoff, pa.timestamp("us", tz="UTC")),
        "passenger_count": col(ids % 9, pa.int8(), 23),
        "trip_distance": col(((np.floor(value * 4).astype(np.int64) % 396) / 4 + 0.25)
                             .astype(np.float32), f32, 19),
        "RatecodeID": col(ids % 6 + 1, pa.int8(), 17),
        "store_and_fwd_flag": col(np.where(ids % 2 == 0, "N", "Y"), pa.string(), 13),
        "PULocationID": col(ids % 250, pa.int16(), 11),
        "DOLocationID": col(ids % 199, pa.int16(), 11),
        "payment_type": col(ids % 3 + 1, pa.int8(), 29),
        "fare_amount": col(fare.astype(np.float32), f32, 43),
        "extra": col(extra.astype(np.float32), f32, 37),
        "mta_tax": col(mta.astype(np.float32), f32),
        "tip_amount": col(tip.astype(np.float32), f32),
        "tolls_amount": col(tolls.astype(np.float32), f32),
        "improvement_surcharge": col(np.full(len(ids), 0.25, np.float32), f32),
        # a null fare or extra makes the sum null
        "total_amount": pa.array(total.astype(np.float32), f32,
                                 mask=(ids % 43 == 0) | (ids % 37 == 0)),
        "congestion_surcharge": col(congestion.astype(np.float32), f32),
        "airport_fee": col(airport.astype(np.float32), f32),
    })


def _docs(rng, first_id, n):
    """One batch of documents with planted defects. Ids divisible by 37
    form the evaluation set, as in the x166 admission algebra."""
    ids = first_id + np.arange(n)
    lengths = rng.integers(60, 121, n)
    short = rng.random(n) < CORPUS_SHARES["short"]
    lengths[short] = rng.integers(5, 20, short.sum())
    texts = [[f"w{t}" for t in rng.integers(0, VOCAB, k)] for k in lengths]
    evals = [j for j in range(n) if ids[j] % 37 == 0 and not short[j]]
    plain = [j for j in range(n) if ids[j] % 37 != 0 and not short[j]]
    half = len(plain) // 2
    sources = list(rng.permutation(plain[:half]))
    targets = list(rng.permutation(plain[half:]))
    planted = {"exact_later": [], "near_later": [], "contaminated": [],
               "short": [int(ids[j]) for j in range(n) if short[j]]}
    for kind in ("exact_dup", "near_dup"):
        for _ in range(int(n * CORPUS_SHARES[kind])):
            s, t = sources.pop(), targets.pop()
            copy = list(texts[s])
            if kind == "near_dup":
                # one substituted token in a 60+ token text: 3-shingle
                # Jaccard >= 0.9, above the 0.8 threshold
                copy[len(copy) // 2] = f"x{rng.integers(0, VOCAB)}"
            texts[t] = copy
            planted["exact_later" if kind == "exact_dup" else "near_later"].append(int(ids[t]))
    for _ in range(int(n * CORPUS_SHARES["contaminated"])):
        t = targets.pop()
        e = texts[evals[rng.integers(0, len(evals))]]
        at = rng.integers(0, len(texts[t]) - 12)
        texts[t] = texts[t][:at] + e[:12] + texts[t][at + 12:]
        planted["contaminated"].append(int(ids[t]))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array([" ".join(t) for t in texts], pa.string())})
    return table, planted


def corpus(out, seed, size, workload="corpus_curation"):
    cfg = SIZES[workload][size]
    rng = np.random.default_rng(seed)
    d = os.path.join(out, "corpus")
    os.makedirs(d, exist_ok=True)
    planted = {}
    names = ["warm", "backlog"] + [f"batch_{i:03d}" for i in range(cfg["batches"])]
    for i, name in enumerate(names):
        n = cfg[f"{name}_docs"] if name in ("warm", "backlog") else cfg["batch_docs"]
        table, planted[name] = _docs(rng, i * 1_000_000, n)
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    with open(os.path.join(d, "planted.json"), "w") as f:
        json.dump(planted, f)


GENERATORS = {"taxi_etl": taxi, "corpus_curation": corpus,
              "incremental_view": lambda out, seed, size: corpus(out, seed, size, "incremental_view")}


def generate(workload, out, seed, size):
    if workload in GENERATORS:
        GENERATORS[workload](out, seed, size)
