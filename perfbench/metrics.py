"""Output checks and metric computation for the benchmark.

The JVM side (perfbench.Main) only measures. This module decides which
operations failed -- by comparing every written output with expectations
from the generator, with brute force over the generated vectors, or with
the DuckDB oracle -- and turns the surviving timings into metrics. A
failed operation counts in `failed` and contributes no time.
"""
import math
import statistics
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import gen

INPUT_ROWS = dict(gsod_etl_gbt=["observation_lines"], corpus_dedup=["documents"],
                  ann_index=["vectors"], rag_prep=["documents", "vectors"],
                  query_mix=["rows"])
RECALL_BAR = 0.9
MEDIAN_TOL = 1e-9


def tail(samples):
    """The highest nearest-rank percentile with at least 10 samples above
    it: (value, percentile, sample count). With fewer than 11 samples no
    percentile qualifies and the maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    r = n - 10
    if r < 1:
        return xs[-1], 100.0, n
    return xs[r - 1], 100.0 * r / n, n


def _canon(rows, cols):
    """tools/compare.py's canonical form: columns sorted by name, floats
    by repr, rows sorted by their string form."""
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= MEDIAN_TOL * max(1.0, abs(a), abs(b))


class Checker:
    def __init__(self, workload, inp, expected, raw):
        self.workload, self.inp, self.expected, self.raw = workload, inp, expected, raw
        self._oracle = None

    def check(self, run):
        """Marks each operation of one run ok or failed; returns the run
        with `attempted`, `failed`, `errors` and the ok operations."""
        errors = getattr(self, "_check_" + self.workload)(run)
        ops = run["ops"]
        bad = {name for name, _ in errors}
        if "*" in bad:
            bad = {op["name"] for op in ops}
        for op in ops:
            if not op["ok"]:
                bad.add(op["name"])
                errors.append((op["name"], op["detail"].get("error", "engine error")))
        good = [op for op in ops if op["name"] not in bad]
        return dict(run, attempted=len(ops), failed=len(ops) - len(good),
                    good=good, errors=[f"run {run['run']} {n}: {e}" for n, e in errors])

    def _check_gsod_etl_gbt(self, run):
        errs = []
        got = pq.read_table(f"{run['out']}/monthly").to_pylist()
        exp = {(r["usaf"], r["wban"], r["year"], r["month"]): r
               for r in self.expected["monthly"]}
        if len(got) != len(exp):
            errs.append(("*", f"monthly rows {len(got)} != {len(exp)}"))
        for g in got:
            e = exp.get((g["usaf"], g["wban"], g["year"], g["month"]))
            if e is None:
                errs.append(("*", f"unexpected station-month {g['usaf']} {g['year']}-{g['month']}"))
                break
            bad = [k for k in gen.MEASURES if not _close(g[k], e[k])]
            if bad:
                errs.append(("*", f"median {bad[0]} {g[bad[0]]} != {e[bad[0]]} "
                                  f"at {g['usaf']} {g['year']}-{g['month']}"))
                break
        c = run["checks"]
        if not (math.isfinite(c["rmse"]) and c["rmse"] <= c["baseline_rmse"]):
            errs.append(("*", f"rmse {c['rmse']} not finite or worse than the "
                              f"constant-mean predictor's {c['baseline_rmse']}"))
        return errs

    def _check_corpus_dedup(self, run):
        ids = set(pq.read_table(f"{run['out']}/survivors", columns=["doc_id"])
                  .column("doc_id").to_pylist())
        errs = []
        if len(ids) != self.expected["survivors"]:
            errs.append(("*", f"survivors {len(ids)} != {self.expected['survivors']}"))
        for g in self.expected["groups"]:
            kept = len(ids.intersection(g))
            if kept != 1:
                errs.append(("*", f"duplicate group of {len(g)} kept {kept}"))
                break
        return errs

    def _check_ann_index(self, run):
        errs = []
        c = run["checks"]
        n = self.raw["props"]["vectors"]
        if c["codes_rows"] != n or c["codes_missing"] or c["codes_extra"]:
            errs.append(("*", f"compacted codes differ from a one-shot encode: {c}"))
        truth = self.expected["truth"]
        k = len(truth[0])
        probes = [op for op in run["ops"] if op["name"].startswith("probe_")]
        hits = 0
        for op in probes:
            got = op["detail"]["ids"]
            want = truth[int(op["name"].split("_")[1])]
            hits += len(set(got) & set(want))
            if len(got) != k:
                errs.append((op["name"], f"{len(got)} results, want {k}"))
        recall = hits / (k * len(probes))
        run["checks"]["recall"] = recall
        if recall < RECALL_BAR:
            errs.append(("*", f"recall@{k} {recall:.3f} below {RECALL_BAR}"))
        return errs

    def oracle(self):
        if self._oracle is None:
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for p in sorted(Path(self.inp).glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
            self._oracle = {}
            for q, sql in self.raw["oracle_sql"].items():
                cur = con.execute(sql)
                self._oracle[q] = _canon(cur.fetchall(), [d[0] for d in cur.description])
            self._con = con
        return self._oracle

    def _check_rag_prep(self, run):
        return self._check_corpus_dedup(run) + self._check_ann_index(run)

    def _check_query_mix(self, run):
        errs = []
        oracle = self.oracle()
        for op in run["ops"]:
            q = op["name"]
            if not op["ok"]:
                continue
            if q not in oracle:
                errs.append((q, "no oracle"))
                continue
            cur = self._con.execute(f"SELECT * FROM read_parquet('{op['detail']['out']}/*.parquet')")
            got = _canon(cur.fetchall(), [d[0] for d in cur.description])
            if got != oracle[q]:
                errs.append((q, f"result differs from the DuckDB oracle "
                                f"({len(got[1])} rows vs {len(oracle[q][1])})"))
        return errs


def _latency_ops(workload, ops):
    """The operations smaller than a run: queries and probes. A pipeline
    run is one operation, whose latency is `run_s` itself."""
    if workload == "query_mix":
        return ops
    return [op for op in ops if op["name"].startswith("probe_")]


def end_to_end(workload, raw, runs):
    """Metric name -> (value, unit), over runs whose every operation
    passed; a failed run contributes no time."""
    ok = [r for r in runs if r["failed"] == 0]
    run_s = statistics.median(r["ms"] for r in ok) / 1000 if ok else 0.0
    return {
        "setup_s": (raw["setup_ms"] / 1000, "s"),
        "run_s": (run_s, "s"),
        "rows_per_s": (raw["input_rows"] / run_s if ok else 0.0, "rows/s"),
        "stored_bytes_per_input_byte": (
            statistics.median(r["stored_bytes"] for r in ok) / raw["input_bytes"]
            if ok else 0.0, "ratio"),
    }


# Per-layer metrics by layer; units in UNITS. Every metric is printed for
# every workload; a layer the workload does not call reads 0.
LAYERS = {
    "ingest": ["wall_s", "task_busy_s", "core_util", "tasks", "shuffle_write_mb",
               "spill_mb", "gc_s"],
    "ml": ["wall_s", "jobs", "driver_only_s", "task_busy_s"],
    "functions": ["wall_s", "task_busy_s", "core_util"],
    "ops.dedup": ["wall_s", "build_jobs", "jobs", "driver_only_s", "shuffle_write_mb",
                  "spill_mb", "rows_out", "pinned_mb"],
    "ops.similarity": ["wall_s", "driver_only_s", "jobs", "tasks", "input_mb"],
    "sources": ["wall_s", "output_mb", "files_written", "files_live_before",
                "files_live_after"],
    "queries": ["wall_s", "build_s", "action_s", "build_jobs", "jobs", "driver_only_s",
                "stages", "tasks", "exchanges", "bnlj", "pinned_mb"],
    "streaming": ["wall_s", "jobs"],
}
RUN_METRICS = {
    "traced_s": "s", "untraced_s": "s", "tracing_overhead_s": "s", "span_coverage": "ratio",
    "op_p50_ms": "ms", "op_tail_ms": "ms", "op_tail_pct": "%", "op_samples": "count",
    "retained_heap_mb": "MB", "pinned_storage_mb": "MB", "failed_ops_share": "ratio",
}
UNITS = dict(wall_s="s", task_busy_s="s", core_util="ratio", tasks="count",
             shuffle_write_mb="MB", spill_mb="MB", gc_s="s", jobs="count",
             driver_only_s="s", build_jobs="count", rows_out="rows", pinned_mb="MB",
             input_mb="MB", output_mb="MB", files_written="count",
             files_live_before="count", files_live_after="count", build_s="s",
             action_s="s", stages="count", exchanges="count", bnlj="count")


def _layer(spans, cores, select):
    """Sums over the outermost spans `select` accepts."""
    by_id = {s["id"]: s for s in spans}
    chosen = [s for s in spans if select(s)]
    ids = {s["id"] for s in chosen}

    def nested(s):
        p = s["parent"]
        while p >= 0:
            if p in ids:
                return True
            p = by_id[p]["parent"]
        return False
    top = [s for s in chosen if not nested(s)]

    def total(key):
        return sum(s[key] for s in top)

    def counter(key, agg=sum):
        vals = [s["counters"][key] for s in chosen if key in s["counters"]]
        return agg(vals) if vals else 0.0
    wall = total("wall_ms") / 1000
    busy = total("task_busy_ms") / 1000
    return dict(
        wall_s=wall, task_busy_s=busy,
        core_util=busy / (wall * cores) if wall else 0.0,
        tasks=total("tasks"), stages=total("stages"), jobs=total("jobs"),
        build_jobs=sum(s["direct_jobs"] for s in top),
        driver_only_s=total("driver_only_ms") / 1000,
        shuffle_write_mb=total("shuffle_write_bytes") / 1e6,
        spill_mb=total("spill_bytes") / 1e6, gc_s=total("gc_ms") / 1000,
        input_mb=total("input_bytes") / 1e6,
        output_mb=counter("output_mb"), files_written=counter("files_written"),
        files_live_before=counter("files_live_before", max),
        files_live_after=counter("files_live_after", max),
        pinned_mb=counter("pinned_mb", max),
        exchanges=counter("exchanges"), bnlj=counter("bnlj"),
        rows_out=sum(c["counters"].get("rows", 0) for c in spans
                     if c["parent"] in {s["id"] for s in top} and c["layer"] == "force"),
    )


def per_layer(workload, raw, runs, traced, after):
    """Per-layer metrics of the traced run; `after` is the untraced run
    made right after it, the baseline of the tracing overhead."""
    spans = raw["traced"]["spans"]
    cores = raw["cores"]
    layers = {name: _layer(spans, cores, lambda s, n=name: s["layer"] == n)
              for name in LAYERS if name not in ("queries", "streaming")}
    # the streaming layer is the q_stream_* entries of the query list; its
    # jobs are the replay's micro-batches
    layers["streaming"] = _layer(spans, cores, lambda s: s["layer"] == "queries"
                                 and s["name"].startswith("q_stream_") and ":" not in s["name"])
    q = _layer(spans, cores, lambda s: s["layer"] == "queries" and ":" not in s["name"])
    qb = _layer(spans, cores, lambda s: s["name"].endswith(":build"))
    qa = _layer(spans, cores, lambda s: s["name"].endswith(":action"))
    q.update(build_s=qb["wall_s"], action_s=qa["wall_s"], build_jobs=qb["jobs"])
    layers["queries"] = q
    out = {f"{layer}.{m}": (layers[layer][m], UNITS[m])
           for layer, ms in LAYERS.items() for m in ms}
    root = next(s for s in spans if s["layer"] == "run")
    covered = sum(s["wall_ms"] for s in spans if s["parent"] == root["id"])
    untraced = after["ms"] / 1000
    lat = [op["ms"] for r in runs for op in _latency_ops(workload, r["good"])]
    t_val, t_pct, t_n = tail(lat) if lat else (0.0, 0.0, 0)
    attempted = sum(r["attempted"] for r in runs + [traced, after])
    failed = sum(r["failed"] for r in runs + [traced, after])
    run = dict(
        traced_s=traced["ms"] / 1000, untraced_s=untraced,
        tracing_overhead_s=traced["ms"] / 1000 - untraced,
        span_coverage=covered / root["wall_ms"] if root["wall_ms"] else 0.0,
        op_p50_ms=statistics.median(lat) if lat else 0.0,
        op_tail_ms=t_val, op_tail_pct=t_pct, op_samples=t_n,
        retained_heap_mb=statistics.median(r["retained_heap_mb"] for r in runs),
        pinned_storage_mb=statistics.median(r["pinned_storage_mb"] for r in runs),
        failed_ops_share=failed / attempted if attempted else 0.0)
    out.update({f"run.{k}": (v, RUN_METRICS[k]) for k, v in run.items()})
    return out
