"""Deterministic input generators for the benchmark workloads.

Every table mirrors the physical schema of the engine's corpus (see
`graft.Schemas`): timestamps are parquet timestamp[us] without a zone
(TIMESTAMP_NTZ to Spark), ids are int64, text is whitespace-separated
word salad over a small vocabulary, so the emote dictionary, the phrase
regexes and the near-duplicate operators all find work.  The same seed
always yields byte-identical tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_2024_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
HOUR_MS = 3_600_000

CHANNELS = ["error", "signup", "purchase", "view", "click"]
LANGS = ["en", "es", "zh", "de", "fr"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark order data column join small line customer query big filter "
         "sort window group stream vector").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(ms):
    return pa.array(np.asarray(ms, dtype=np.int64) * 1000, pa.timestamp("us"))


def events(rng, days, per_day):
    """Chat events over `days` days from 2024-01-01, sorted by time."""
    n = days * per_day
    ts = np.sort(rng.integers(0, days * DAY_MS, n)) + EPOCH_2024_MS
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 400, n), pa.int64()),
        "event_type": pa.array([CHANNELS[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 100, 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n, dup_share=0.2):
    """Word-salad documents; `dup_share` of them are near-copies of an
    earlier document with one or two words replaced."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(20, 70)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)]),
        "source": pa.array(["src%d" % i for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, clusters=8):
    centers = rng.normal(0, 1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0, 0.35, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def star(rng, n_orders, parts):
    """orders, lineitem and part of a TPC-H-like schema."""
    okeys = np.arange(1, n_orders + 1)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 1 + n_orders // 10, n_orders), pa.int64()),
        "o_orderstatus": pa.array([("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.random(n_orders) * 1e5, 2)),
        "o_orderdate": _ts(EPOCH_2024_MS + rng.integers(0, 365, n_orders) * DAY_MS),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]),
    })
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(okeys, lines)
    n = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, parts + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 11, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.random(n) * 1e4, 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array([("R", "A", "N")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": _ts(EPOCH_2024_MS + rng.integers(0, 400, n) * DAY_MS),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, parts + 1), pa.int64()),
        "p_name": pa.array(["part %d" % i for i in range(1, parts + 1)]),
        "p_brand": pa.array(["Brand#%d" % i for i in rng.integers(1, 6, parts)]),
        "p_type": pa.array([("STEEL", "BRASS", "TIN")[i] for i in rng.integers(0, 3, parts)]),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.random(parts) * 1100, 2)),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part}


def slice_rows(table, column, lo, hi):
    """Rows of `table` with lo <= column < hi (column sorted ascending)."""
    col = table.column(column).to_numpy()
    a, b = np.searchsorted(col, lo), np.searchsorted(col, hi)
    return table.slice(int(a), int(b - a))


# ---- per-workload input sets ------------------------------------------------

LIVE_DAYS = 30
LIVE_EVENTS_PER_DAY = 1200
LIVE_DOCS = 2400
HISTORY_DAYS = 6
# The generator lands one slice per LIVE_SLICE_PERIOD_MS; the live job
# triggers every LIVE_TRIGGER_MS. Both reach the JVM through
# live.properties.
LIVE_SLICE_PERIOD_MS = 400.0
LIVE_TRIGGER_MS = 8000


def live_start_day(seed):
    """The seed-chosen first live day; the HISTORY_DAYS before it are the
    history."""
    return HISTORY_DAYS + seed % 8


def live(seed, root, seconds):
    """The days of history before the seed-chosen start day (history/,
    the set-up replay's input), then enough one-hour slices after it for a
    `seconds` window, pre-written to staging/ and moved into landing/ on
    schedule by the benchmark.  live.properties carries the schedule and
    the history's time range to the JVM."""
    rng = np.random.default_rng(seed)
    ev = events(rng, LIVE_DAYS, LIVE_EVENTS_PER_DAY)
    docs = documents(rng, LIVE_DOCS)
    # Documents carry no event time: each is assigned an hour of the
    # replayed month, in doc_id order.
    hours = LIVE_DAYS * 24
    docs = docs.append_column(
        "_hour", pa.array((np.arange(LIVE_DOCS) * hours) // LIVE_DOCS, pa.int64()))
    ts_ms = pc.cast(ev.column("ts"), pa.int64()).to_numpy() // 1000
    ev = ev.append_column("_ms", pa.array(ts_ms, pa.int64()))
    start = live_start_day(seed)
    write(docs.drop(["_hour"]), f"{root}/dict/documents.parquet")
    first = start - HISTORY_DAYS
    hist_ev = slice_rows(ev, "_ms", EPOCH_2024_MS + first * DAY_MS,
                         EPOCH_2024_MS + start * DAY_MS).drop(["_ms"])
    hist_docs = slice_rows(docs, "_hour", first * 24, start * 24).drop(["_hour"])
    write(hist_ev, f"{root}/history/events.parquet")
    write(hist_docs, f"{root}/history/documents.parquet")
    os.makedirs(f"{root}/landing/events")
    os.makedirs(f"{root}/landing/documents")
    n_slices = min(int(seconds * 1000 / LIVE_SLICE_PERIOD_MS) + 2, (LIVE_DAYS - start) * 24)
    rows = {}
    for k in range(n_slices):
        h = start * 24 + k
        e = slice_rows(ev, "_ms", EPOCH_2024_MS + h * HOUR_MS,
                       EPOCH_2024_MS + (h + 1) * HOUR_MS).drop(["_ms"])
        d = slice_rows(docs, "_hour", h, h + 1).drop(["_hour"])
        name = f"slice-{k:05d}.parquet"
        write(e, f"{root}/staging/events/{name}")
        write(d, f"{root}/staging/documents/{name}")
        rows[name] = f"{e.num_rows} {d.num_rows}"
    # Rows per slice file, so the benchmark knows when every landed row
    # has been committed.
    with open(f"{root}/staging/rows.txt", "w") as f:
        f.write("".join(f"{k} {v}\n" for k, v in sorted(rows.items())))
    with open(f"{root}/live.properties", "w") as f:
        f.write(f"history_start_ms={EPOCH_2024_MS + first * DAY_MS}\n"
                f"live_start_ms={EPOCH_2024_MS + start * DAY_MS}\n"
                f"slice_period_ms={LIVE_SLICE_PERIOD_MS}\n"
                f"trigger_ms={LIVE_TRIGGER_MS}\n")


def curation(root, docs=300, vecs=300, orders=1500):
    """The fixed curation corpus: documents, embeddings, orders/lineitem."""
    rng = np.random.default_rng(20240102)
    tables = {"documents": documents(rng, docs),
              "embeddings": embeddings(rng, vecs)}
    tables.update(star(rng, orders, parts=orders // 5))
    for name, t in tables.items():
        write(t, f"{root}/{name}.parquet")
    rows = {name: t.num_rows for name, t in tables.items()}
    with open(f"{root}/rows.json", "w") as f:
        json.dump(rows, f)
    return rows
