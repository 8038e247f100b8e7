"""Turns a run's raw samples into the metrics named in BENCHMARK.json,
and holds the correctness rules that run outside the JVM."""
import glob
import hashlib
import json
import os
import statistics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "BENCHMARK.json")

# sample families reported as <name>_p50 and <name>_tail in a traced run
TRACED_TIMINGS = [
    "gstream.latest_offset_ms", "gstream.get_batch_ms", "gstream.query_planning_ms",
    "gstream.add_batch_ms", "gstream.wal_commit_ms", "gstream.commit_offsets_ms",
    "gstream.trigger_ms", "gngops.assign_ms", "gngmodel.update_ms",
]
# sample families reported as their median in a traced run
TRACED_MEDIANS = ["gstream.probe_update_ms", "gstream.persist_ms"]
# span layers whose self time is reported as <layer>.self_ms
SELF_TIME_LAYERS = ["gstream", "gngops", "gngmodel", "fold", "operators"]


def spec(path=BENCHMARK_JSON):
    with open(path) as f:
        return json.load(f)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, never
    below the median: (value, percentile, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    mid = statistics.median(s)
    k = n - 10  # samples at or below the tail value
    if k < 1 or s[k - 1] < mid:
        return mid, 50.0, n
    return s[k - 1], 100.0 * k / n, n


def end_to_end(raw):
    """Every end-to-end metric from one untraced run's raw result."""
    sm, sc = raw["samples"], raw["scalars"]
    return {
        "setup_s": sc["setup.session_s"] + sc["setup.fixtures_s"] + sc["setup.warmup_s"],
        "event_latency_ms_p50": statistics.median(sm["event_latency_ms"]),
        "event_latency_ms_tail": tail(sm["event_latency_ms"])[0],
        "update_ms_mean": statistics.fmean(sm["update_ms"]),
        "points_per_s": sc["rows"] / sc["measure_s"],
        "batch_ms_p50": statistics.median(sm["batch_ms"]),
        "batch_ms_tail": tail(sm["batch_ms"])[0],
        "heap_retained_mb": sc["heap_end_mb"],
        "mix_s": statistics.median(sm["pass_s"]),
        "fold_batch_ms_p50": statistics.median(sm["fold_batch_ms"]),
    }


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it
    that its child spans cover, summed by layer (ms)."""
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(c["start_ms"], lo), min(c["end_ms"], hi)) for c in children.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out


def per_layer(raw, spans, names):
    """Every per-layer metric of a traced run; layers a workload leaves
    idle read 0."""
    sm, sc = raw["samples"], raw["scalars"]
    vals = {}
    for fam in TRACED_TIMINGS:
        if sm.get(fam):
            vals[fam + "_p50"] = statistics.median(sm[fam])
            vals[fam + "_tail"] = tail(sm[fam])[0]
    for fam in TRACED_MEDIANS:
        if sm.get(fam):
            vals[fam] = statistics.median(sm[fam])
    vals["gngmodel.heap_growth_mb"] = sc["heap_end_mb"] - sc["heap_after_setup_mb"]
    for layer, ms in self_times(spans).items():
        if layer in SELF_TIME_LAYERS:
            vals[layer + ".self_ms"] = ms
    for name in names:
        if name not in vals and name in sc:
            vals[name] = sc[name]
    return {n: float(vals.get(n, 0.0)) for n in names}


def tail_notes(raw):
    """One line per tail metric: its percentile and sample count."""
    out = []
    for fam in ("event_latency_ms", "batch_ms"):
        v, p, n = tail(raw["samples"][fam])
        out.append(f"{fam}_tail = {v:.3f} at p{p:.1f} of {n} samples")
    return out


# --- the oracle hash rule of scripts/check_oracle.py -------------------

def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_hash(df):
    df = df[sorted(df.columns)]
    h = hashlib.md5()
    n = 0
    for row in df.itertuples(index=False):
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
        n += 1
    return h.hexdigest(), n


def oracle_check(con, dump_dir, name, sql):
    """None when the Spark dump of `name` matches its DuckDB oracle by
    column names, row count and value hash; else why not."""
    files = sorted(glob.glob(f"{dump_dir}/{name}/*.parquet"))
    if not files:
        return "no spark output"
    spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    duck_df = con.sql(sql).df()
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    (sh, sn), (dh, dn) = df_hash(spark_df), df_hash(duck_df)
    if sn != dn:
        return f"row count {sn} vs oracle {dn}"
    if sh != dh:
        return "value hash differs from oracle"
    return None


def oracle_checks(data_dir, dump_dir):
    """(name, failure or None) for every query dumped under `dump_dir`,
    against the tables in `data_dir`."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(f"{dump_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = []
    for q in sorted(d for d in os.listdir(dump_dir) if os.path.isdir(os.path.join(dump_dir, d))):
        if q not in oracle:
            out.append((f"fold: {q} matches its oracle", "no oracle SQL"))
            continue
        try:
            why = oracle_check(con, dump_dir, q, oracle[q])
        except Exception as e:  # a failing oracle or dump is a failed check
            why = f"{type(e).__name__}: {e}"
        out.append((f"fold: {q} matches its oracle", why))
    return out
