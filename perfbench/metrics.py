"""Turns a run record (raw.json from the benchmark JVM) into the reported
metrics: the end-to-end set, the per-layer set, correctness, operation
counts and validity."""
import glob
import json
import os

import benchlib as bl

TABLES = ("channel", "user", "emote", "user_emote", "phrase")
# Each dashboard call and the sink table it reads.
SERVE_TABLE = {"trailing_sums": "channel", "leaderboard_chatters_7d": "user",
               "leaderboard_emotes": "emote", "resample": "channel",
               "cumulative_sums": "channel", "ranked": "user"}
SERVE_CALLS = tuple(SERVE_TABLE)
CURATION_OPS = ("j61_label_propagation", "x114_rouge_pairs")
# Rows each curation operator scans, by the tables it reads (the corpus is
# fixed: gen.curation).
CURATION_TABLES = {"j61_label_propagation": ("orders", "lineitem"),
                   "x114_rouge_pairs": ("documents",)}
STREAM_DURATIONS = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                    "query_planning": "queryPlanning", "wal_commit": "walCommit",
                    "commit_offsets": "commitOffsets", "add_batch": "addBatch"}
# Generator lateness beyond this marks a live run invalid.
MAX_LATE_MS = 250.0

END_TO_END = {
    "setup_s": "s", "visible_lag_p50_ms": "ms", "visible_lag_p95_ms": "ms",
    "serve_page_ms": "ms", "serve_slowest_ms": "ms",
    "success_share": "share", "rows_per_s": "1/s", "pass_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units():
    u = {f"streaming.{k}_ms": "ms" for k in STREAM_DURATIONS}
    u.update({"streaming.batches": "count", "streaming.no_data_batches": "count",
              "streaming.state_rows": "count"})
    for t in TABLES:
        u.update({f"sink.{t}.upsert_p50_ms": "ms", f"sink.{t}.upsert_p95_ms": "ms",
                  f"sink.{t}.state_files": "count", f"sink.{t}.state_leaf_dirs": "count",
                  f"sink.{t}.state_bytes": "bytes"})
    u.update({"sink.jobs_per_upsert": "count", "sink.tasks_per_upsert": "count",
              "sink.shuffle_bytes_per_upsert": "bytes"})
    u.update({f"serve.{c}_ms": "ms" for c in SERVE_CALLS})
    u.update({"serve.jobs_per_call": "count", "serve.failed.file_not_exist": "count",
              "serve.failed.other": "count", "serve.reads_overlapping_upsert": "count"})
    u.update({"backfill.jobs": "count", "backfill.shuffle_bytes": "bytes",
              "backfill.input_bytes": "bytes", "backfill.output_files": "count"})
    for op in CURATION_OPS:
        u.update({f"op.{op}_s": "s", f"op.{op}.jobs": "count",
                  f"op.{op}.shuffle_bytes": "bytes", f"op.{op}.materializations": "count"})
    u.update({"jvm.gc_ms": "ms", "generator.late_ms_max": "ms", "trace.overhead_ms": "ms"})
    return u


PER_LAYER = per_layer_units()


def _dur(s):
    return s["end"] - s["start"]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _tree(path):
    """(parquet files, leaf dirs holding them, bytes) under a table dir."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)]
    return (len(files), len({os.path.dirname(f) for f in files}),
            sum(os.path.getsize(f) for f in files))


def _job_totals(jobs, span_ids):
    sel = [j for j in jobs if j.get("span") in span_ids]
    return {"jobs": len(sel),
            "tasks": sum(j["tasks"] for j in sel),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in sel),
            "input_bytes": sum(j["input_bytes"] for j in sel),
            "materializations": sum(j["materializations"] for j in sel)}


def check_oracle(out_dir, data_dir):
    """Each curation result against its oracle SQL in DuckDB: columns
    sorted by name, rows sorted by every column, values compared exactly
    (floats with equal_nan).  Returns the mismatches."""
    import duckdb
    import numpy as np
    con = duckdb.connect()
    for p in glob.glob(f"{data_dir}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = []
    for q in sorted(oracle):
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/{q}/*.parquet'").fetchdf()
            want = con.execute(oracle[q]).fetchdf()
        except Exception as e:  # a missing result is a mismatch too
            bad.append(f"{q}: {e}")
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad.append(f"{q}: shape {list(got.columns)}x{len(got)} != "
                       f"{list(want.columns)}x{len(want)}")
            continue
        if len(got) == 0:
            bad.append(f"{q}: empty result")
            continue
        g = got.sort_values(list(got.columns)).reset_index(drop=True)
        w = want.sort_values(list(want.columns)).reset_index(drop=True)
        for c in g.columns:
            a, b = g[c], w[c]
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                same = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0,
                                   equal_nan=True)
            else:
                same = (a.astype(str) == b.astype(str)).all()
            if not same:
                bad.append(f"{q}: column {c} differs")
                break
    return bad


def _live(raw, rep, e2e, pl, window, spans, jobs):
    lags, no_commit = [], 0
    for t in TABLES:
        ckpt = raw["checkpoints"][t]
        batch_of = bl.file_batches(bl.source_log(ckpt), bl.batch_offsets(ckpt))
        ends = {s["batch"]: s["end"] for s in spans
                if s["kind"] == "upsert" and s["name"] == t and s["ok"]}
        got, miss = bl.visible_lags(raw["slices"], batch_of, ends)
        lags += got
        no_commit += len(miss)
        ups = [_dur(s) for s in window if s["kind"] == "upsert" and s["name"] == t]
        if ups:
            pl[f"sink.{t}.upsert_p50_ms"] = bl.quantile(ups, 0.5, beyond=0)
            pl[f"sink.{t}.upsert_p95_ms"] = bl.quantile(ups, 0.95, beyond=0)
        files, leaves, size = _tree(os.path.join(raw["base"], t))
        pl[f"sink.{t}.state_files"], pl[f"sink.{t}.state_leaf_dirs"] = files, leaves
        pl[f"sink.{t}.state_bytes"] = size
    if no_commit:
        rep["problems"].append(f"{no_commit} (slice, table) pairs never committed")
        rep["correct"] = False
    rep["lag_samples"] = len(lags)
    e2e["visible_lag_p50_ms"] = bl.quantile(lags, 0.5)
    e2e["visible_lag_p95_ms"] = bl.quantile(lags, 0.95)

    # Per call, the median read (a failed read is +inf); the page is the
    # six calls. A pooled percentile over ~20 reads of six unequal calls
    # moves with which calls happened to fit the window.
    reads = [s for s in window if s["kind"] == "serve"]
    rep["serve_samples"] = [(s["name"], round(_dur(s))) for s in reads]
    for c in SERVE_CALLS:
        xs = [_dur(s) if s["ok"] else float("inf") for s in reads if s["name"] == c]
        pl[f"serve.{c}_ms"] = bl.median(xs)
    calls = [pl[f"serve.{c}_ms"] for c in SERVE_CALLS]
    e2e["serve_page_ms"], e2e["serve_slowest_ms"] = sum(calls), max(calls)
    traced = [s for s in reads if s["traced"]]
    pl["serve.jobs_per_call"] = (_job_totals(jobs, {s["id"] for s in traced})["jobs"]
                                 / len(traced)) if traced else 0
    for s in reads:
        if not s["ok"]:
            k = "file_not_exist" if "FILE_NOT_EXIST" in (s["error"] or "") else "other"
            pl[f"serve.failed.{k}"] += 1
    # The reads a dashboard on the live tables would have exposed to a
    # leaf-dir swap: those overlapping an upsert of the table they read.
    upserts = [s for s in window if s["kind"] == "upsert"]
    pl["serve.reads_overlapping_upsert"] = sum(
        1 for r in reads if any(u["name"] == SERVE_TABLE[r["name"]] and
                                u["start"] < r["end"] and r["start"] < u["end"]
                                for u in upserts))
    # Tracing overhead per dashboard cycle, from the set-up's alternating
    # probe cycles (the live window keeps the listener attached).
    probes = [s for s in spans if s["kind"] == "probe"]
    on = [_dur(s) for s in probes if s["traced"]]
    off = [_dur(s) for s in probes if not s["traced"]]
    if on and off:
        pl["trace.overhead_ms"] = (sum(on) - sum(off)) / (len(on) / len(SERVE_CALLS))

    replays = [s for s in spans if s["kind"] == "backfill"]
    e2e["rows_per_s"] = raw["history_rows"] / (bl.median(map(_dur, replays)) / 1000)
    e2e["pass_s"] = bl.median(_dur(s) for s in upserts) / 1000
    tot = _job_totals(jobs, {replays[-1]["id"]})
    pl["backfill.jobs"] = tot["jobs"]
    pl["backfill.shuffle_bytes"] = tot["shuffle_bytes"]
    pl["backfill.input_bytes"] = tot["input_bytes"]
    pl["backfill.output_files"] = sum(_tree(os.path.join(raw["replica"], t))[0] for t in TABLES)

    ups = [s for s in upserts if s["traced"]]
    if ups:
        tot = _job_totals(jobs, {s["id"] for s in ups})
        pl["sink.jobs_per_upsert"] = tot["jobs"] / len(ups)
        pl["sink.tasks_per_upsert"] = tot["tasks"] / len(ups)
        pl["sink.shuffle_bytes_per_upsert"] = tot["shuffle_bytes"] / len(ups)

    prog = [e for e in raw["events"] if e["kind"] == "progress"
            and e["t"] >= raw["measure_start"] and e["name"] in TABLES]
    for k, key in STREAM_DURATIONS.items():
        xs = [e["durations"].get(key, 0) for e in prog if e["rows"] > 0]
        pl[f"streaming.{k}_ms"] = bl.median(xs) if xs else 0.0
    pl["streaming.batches"] = len(prog)
    pl["streaming.no_data_batches"] = sum(1 for e in prog if e["rows"] == 0)
    last_state = {}
    for e in prog:
        last_state[e["name"]] = e["state_rows"]
    pl["streaming.state_rows"] = sum(last_state.values())

    late = max((s["landed"] - s["due"] for s in raw["slices"]), default=0.0)
    pl["generator.late_ms_max"] = late
    rep["late_ms_max"] = late
    if late > MAX_LATE_MS:
        rep["invalid"].append(f"generator ran {late:.0f} ms late (limit {MAX_LATE_MS:.0f})")


def _curation(raw, rep, e2e, pl, window, jobs, run_dir):
    passes = raw["passes"]
    ops = [s for s in window if s["kind"] == "op"]
    rep["op_samples"] = [(s["name"], round(_dur(s))) for s in ops]
    pass_ms = [p["end"] - p["start"] for p in passes]
    e2e["pass_s"] = bl.median(pass_ms) / 1000
    with open(os.path.join(run_dir, "data", "rows.json")) as f:
        rows = json.load(f)
    per_pass = sum(rows[t] for op in CURATION_OPS for t in CURATION_TABLES[op])
    e2e["rows_per_s"] = per_pass / e2e["pass_s"]
    for op in CURATION_OPS:
        mine = [s for s in ops if s["name"] == op]
        pl[f"op.{op}_s"] = bl.median([_dur(s) for s in mine]) / 1000
        traced = [s for s in mine if s["traced"]]
        if traced:
            tot = _job_totals(jobs, {s["id"] for s in traced})
            pl[f"op.{op}.jobs"] = tot["jobs"] / len(traced)
            pl[f"op.{op}.shuffle_bytes"] = tot["shuffle_bytes"] / len(traced)
            pl[f"op.{op}.materializations"] = tot["materializations"] / len(traced)
    calls = [pl[f"op.{op}_s"] * 1000 for op in CURATION_OPS]
    e2e["serve_page_ms"], e2e["serve_slowest_ms"] = sum(calls), max(calls)
    # A result's lag is its call's duration, so the seed's operator order
    # does not move it; the percentiles run over the per-operator medians.
    e2e["visible_lag_p50_ms"] = bl.quantile(calls, 0.5, beyond=0)
    e2e["visible_lag_p95_ms"] = bl.quantile(calls, 0.95, beyond=0)
    tp = [p["end"] - p["start"] for p in passes if p["traced"]]
    up = [p["end"] - p["start"] for p in passes if not p["traced"]]
    if tp and up and raw["traced"]:
        pl["trace.overhead_ms"] = _mean(tp) - _mean(up)
    bad = check_oracle(os.path.join(run_dir, "out"), os.path.join(run_dir, "data"))
    if bad:
        rep["correct"] = False
        rep["problems"] += ["oracle mismatch: " + b for b in bad]


def evaluate(raw, run_dir):
    rep = {"workload": raw["workload"], "seed": raw.get("seed"), "problems": [],
           "invalid": [], "nproc": raw.get("nproc"), "master": raw.get("master"),
           "foreign_jvms": raw.get("foreign_jvms", [])}
    spans = raw.get("spans", [])
    rep["attempted"] = max(1, len(spans))
    rep["failed"] = sum(1 for s in spans if not s["ok"])
    rep["correct"] = "fatal" not in raw and not raw.get("mismatches")
    rep["problems"] += ["fatal: " + raw["fatal"]] if "fatal" in raw else []
    rep["problems"] += ["mismatch: " + m for m in raw.get("mismatches", [])]
    if rep["foreign_jvms"]:
        rep["invalid"].append(f"other JVMs running: {rep['foreign_jvms']}")
    e2e = {}
    pl = {k: 0.0 for k in PER_LAYER}
    if "fatal" not in raw:
        window = [s for s in spans if s["start"] >= raw["measure_start"]]
        jobs = raw.get("jobs", [])
        rep["setup_ms"] = raw["setup_ms"]
        rep["phase_ms"] = {k: raw[k] for k in ("measure_start", "measure_end", "finish_end")}
        rep["setup_spans"] = [(s["kind"], s["name"], round(_dur(s)))
                              for s in spans if s["start"] < raw["measure_start"]]
        e2e["setup_s"] = bl.median(raw["setup_ms"]) / 1000
        e2e["success_share"] = 1 - rep["failed"] / rep["attempted"]
        e2e["peak_rss_mb"] = raw["peak_rss_kb"] / 1024
        pl["jvm.gc_ms"] = raw["gc_ms"]
        try:
            if raw["workload"] == "live_dashboard":
                _live(raw, rep, e2e, pl, window, spans, jobs)
            else:
                _curation(raw, rep, e2e, pl, window, jobs, run_dir)
        except bl.TooFewSamples as e:
            rep["invalid"].append(f"too few samples: {e}")
    rep["end_to_end"] = {k: (e2e[k], u) for k, u in END_TO_END.items() if k in e2e}
    rep["per_layer"] = {k: (v, PER_LAYER[k]) for k, v in pl.items()}
    unbounded = [k for k, v in e2e.items() if v != v or v in (float("inf"), float("-inf"))]
    if unbounded:
        rep["invalid"].append(f"failed operations made {unbounded} unbounded")
    missing = [k for k in END_TO_END if k not in e2e]
    if missing and rep["correct"]:
        rep["invalid"].append(f"metrics not measured: {missing}")
    return rep
