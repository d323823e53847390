"""Turn one run's raw measurements into the named metrics of BENCHMARK.json.

The JVM side records op samples (kind, cycle, loop, start, end, ok, n),
scalar values, check outcomes and, in a traced run, spans (name, parent,
cycle, loop, start, end, counts) and the Spark jobs attributed to them.
Loop 0 is the untraced timed loop every run makes; a traced run makes a
second, traced loop 1 of the same length. End-to-end metrics come from
loop 0, per-layer metrics from loop 1, and the difference of the two
loops' p50 is the tracing overhead. Set-up spans have loop and cycle -1,
warm-up spans cycle -2; a layer a workload only calls at set-up is
measured on its set-up spans.
"""
import math
from collections import defaultdict

from stats import covered, median, self_time, tail

END_TO_END = {
    "setup_s": "s",
    "live_mb": "MB",
    "p50_s": "s",
    "tail_s": "s",
    "throughput_per_s": "1/s",
    "space_amp": "ratio",
}

SQL_CLASSES = ("fold", "skip", "point", "scan", "join")

PER_LAYER = {
    "failed_frac": "ratio",
    "setup.session_s": "s", "setup.once_s": "s", "setup.build_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
    "sql.plan_s": "s", "sql.exec_s": "s", "sql.jobs_per_query": "count",
    "sql.zero_job_frac": "ratio", "sql.dirs_scanned_frac": "ratio",
    **{f"sql.class.{c}.p50_s": "s" for c in SQL_CLASSES},
    "commit.gens": "count", "commit.meta_bytes_per_gen": "bytes",
    "write.bytes_per_change_row": "bytes", "write.files_per_commit": "count",
    "write.sliced_s": "s",
    "cdc.batch_p50_s": "s", "cdc.lag_p50_s": "s",
    "merge.p50_s": "s", "merge.jobs": "count", "merge.task_cpu_s": "s",
    "merge.driver_s": "s", "merge.dirs_rewritten_frac": "ratio",
    "delete.p50_s": "s", "delete.jobs": "count", "delete.dvs_per_op": "count",
    "update.p50_s": "s", "update.jobs": "count",
    "feed.consume_s": "s", "feed.apply_s": "s", "feed.jobs": "count",
    "feed.rows_per_sync": "count",
    "optimize.s": "s", "optimize.jobs": "count", "optimize.bytes_rewritten": "bytes",
    "optimize.stall_s": "s", "vacuum.s": "s", "analyze.s": "s", "analyze.jobs": "count",
    "ingest.table_s": "s", "ingest.jobs": "count", "ingest.task_cpu_s": "s",
    "ingest.cpu_util": "ratio", "ingest.shuffle_bytes": "bytes", "schema.reflect_s": "s",
    "dedup.s": "s", "dedup.task_cpu_s": "s", "dedup.candidate_pairs": "count",
    "dedup.recall": "ratio",
    "cycle.self_s": "s", "query.self_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.driver_gap_frac": "ratio", "spark.shuffle_bytes": "bytes", "spark.gc_s": "s",
}

# The timed op each workload's end-to-end latency and throughput count,
# and what its throughput counts.
PRIMARY = {"cdc_apply": "lag", "bi_mix": "query"}
UNIT_OF_WORK = {"cdc_apply": "change rows", "bi_mix": "queries"}


def _dur(x):
    return x["t1"] - x["t0"]


def _num(x):
    return 0.0 if x is None or (isinstance(x, float) and math.isnan(x)) else x


def _primary(ev, workload, loop):
    k = PRIMARY[workload]
    return [s for s in ev["samples"] if s["loop"] == loop
            and (s["kind"] == k or s["kind"].startswith(k + "."))]


def end_to_end(workload, ev, loop=0):
    """The end-to-end metrics of one timed loop, and a note per metric."""
    v = ev["values"]
    ops = _primary(ev, workload, loop)
    lat = [_dur(s) for s in ops]
    t, pct, n = tail(lat)
    busy = sum(lat)
    work = sum(s["n"] for s in ops)
    out = {
        "setup_s": (v["setup.session_s"] + v.get("setup.once_s", 0.0)
                    + v["setup.build_s"] + v["setup.warmup_s"]),
        "live_mb": v["live_mb"],
        "p50_s": median(lat),
        "tail_s": t,
        # closed loop, one client: work per second of op time (the loop's
        # wall clock would add the overshoot of its last op)
        "throughput_per_s": work / busy if busy else math.nan,
        "space_amp": v["space_amp"],
    }
    parts = [("session", "setup.session_s"), ("once", "setup.once_s"),
             ("build median of reps", "setup.build_s"), ("warm-up", "setup.warmup_s")]
    notes = {"setup_s": " + ".join(f"{label} {v[k]:.2f}" for label, k in parts if k in v),
             "p50_s": f"n={n}", "tail_s": f"p{pct:.0f}, n={n}" if pct else "n=0",
             "throughput_per_s": f"{work:.0f} {UNIT_OF_WORK[workload]} in {busy:.2f} s"}
    return out, notes


class Trace:
    """Set-up spans and the traced loop's spans, with their Spark jobs."""

    def __init__(self, ev):
        self.spans = [s for s in ev["spans"] if s["loop"] in (-1, 1)]
        self.children = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)
        self._own = defaultdict(list)
        for j in ev["jobs"]:
            self._own[j["span"]].append(j)

    def jobs_under(self, span):
        out = list(self._own[span["id"]])
        for c in self.children[span["id"]]:
            out += self.jobs_under(c)
        return out

    def named(self, name):
        """Loop spans named `name`, or its set-up spans when the loop has none."""
        loop = [s for s in self.spans if s["name"] == name and s["loop"] == 1]
        return loop or [s for s in self.spans if s["name"] == name and s["cycle"] == -1]

    def p50(self, name):
        return median(_dur(s) for s in self.named(name))

    def per_op(self, name, f):
        return median(f(s) for s in self.named(name))

    def jobs(self, name):
        return self.per_op(name, lambda s: len(self.jobs_under(s)))

    def cpu(self, name):
        return self.per_op(name, lambda s: sum(j["cpu_s"] for j in self.jobs_under(s)))

    def driver(self, name):
        """Median wall of `name` not covered by any of its Spark jobs."""
        return self.per_op(name, lambda s: _dur(s) - covered(
            [(j["t0"], j["t1"]) for j in self.jobs_under(s)], s["t0"], s["t1"]))

    def self_s(self, name):
        return self.per_op(name, lambda s: self_time(
            (s["t0"], s["t1"]), [(c["t0"], c["t1"]) for c in self.children[s["id"]]]))

    def attr_sum(self, name, key):
        return sum(s["attrs"].get(key, 0.0) for s in self.named(name))


def per_layer(workload, ev, e2e_untraced, e2e_traced):
    """Per-layer metrics of a traced run. A layer the workload never calls
    reads 0."""
    tr = Trace(ev)
    v = ev["values"]
    m = {}
    m["setup.session_s"] = v["setup.session_s"]
    m["setup.once_s"] = v.get("setup.once_s", 0.0)
    m["setup.build_s"] = v["setup.build_s"]
    m["setup.warmup_s"] = v["setup.warmup_s"]
    m["trace.overhead_s"] = e2e_traced["p50_s"] - e2e_untraced["p50_s"]
    m["trace.overhead_frac"] = m["trace.overhead_s"] / e2e_untraced["p50_s"]

    # sql: the BI session's queries (q.<class>) and their plan/exec halves
    queries = [s for s in tr.spans if s["name"].startswith("q.") and s["loop"] == 1]
    m["sql.plan_s"] = tr.p50("sql.plan")
    m["sql.exec_s"] = tr.p50("sql.exec")
    m["sql.jobs_per_query"] = median(len(tr.jobs_under(q)) for q in queries)
    folds = [q for q in queries if q["name"] == "q.fold"]
    m["sql.zero_job_frac"] = (sum(1 for q in folds if not tr.jobs_under(q)) / len(folds)
                              if folds else math.nan)
    probes = [p for q in queries if q["name"] in ("q.skip", "q.point")
              for p in tr.children[q["id"]] if p["name"] == "sql.plan"]
    dirs = v.get("bi.orders_dirs", 0)
    m["sql.dirs_scanned_frac"] = (sum(p["attrs"].get("dirs_scanned", 0) for p in probes)
                                  / (len(probes) * dirs) if probes and dirs else math.nan)
    for c in SQL_CLASSES:
        m[f"sql.class.{c}.p50_s"] = tr.p50(f"q.{c}")

    # ManifestCommit: per change batch applied to the source (cycle spans)
    gens = tr.attr_sum("cycle", "gens")
    cycles = tr.named("cycle")
    m["commit.gens"] = gens / len(cycles) if cycles else math.nan
    m["commit.meta_bytes_per_gen"] = tr.attr_sum("cycle", "meta_bytes") / gens if gens else math.nan
    rows = tr.attr_sum("cycle", "rows")
    m["write.bytes_per_change_row"] = tr.attr_sum("cycle", "data_bytes") / rows if rows else math.nan
    m["write.files_per_commit"] = tr.attr_sum("cycle", "data_files") / gens if gens else math.nan
    m["write.sliced_s"] = tr.p50("write.sliced")
    for kind in ("batch", "lag"):
        m[f"cdc.{kind}_p50_s"] = median(_dur(s) for s in ev["samples"]
                                        if s["kind"] == kind and s["loop"] == 1)

    # MergeInto
    m["merge.p50_s"] = tr.p50("merge")
    m["merge.jobs"] = tr.jobs("merge")
    m["merge.task_cpu_s"] = tr.cpu("merge")
    m["merge.driver_s"] = tr.driver("merge")
    total = tr.attr_sum("merge", "dirs_total")
    m["merge.dirs_rewritten_frac"] = tr.attr_sum("merge", "dirs_rewritten") / total if total else math.nan
    m["delete.p50_s"] = tr.p50("delete")
    m["delete.jobs"] = tr.jobs("delete")
    dels = tr.named("delete")
    m["delete.dvs_per_op"] = tr.attr_sum("delete", "dvs") / len(dels) if dels else math.nan
    m["update.p50_s"] = tr.p50("update")
    m["update.jobs"] = tr.jobs("update")

    # ChangeFeed
    m["feed.consume_s"] = tr.p50("feed.consume")
    m["feed.apply_s"] = tr.p50("feed.apply")
    m["feed.jobs"] = tr.jobs("sync")
    applies = tr.named("feed.apply")
    m["feed.rows_per_sync"] = tr.attr_sum("feed.apply", "rows") / len(applies) if applies else math.nan

    # Optimize / Maintenance
    m["optimize.s"] = tr.p50("optimize")
    m["optimize.jobs"] = tr.jobs("optimize")
    opts = tr.named("optimize")
    m["optimize.bytes_rewritten"] = (tr.attr_sum("optimize", "bytes_rewritten") / len(opts)
                                     if opts else math.nan)
    # the replica sync of a batch waits for that batch's maintenance calls
    m["optimize.stall_s"] = median(
        sum(_dur(c) for c in tr.children[cy["id"]] if c["name"] in ("optimize", "vacuum"))
        for cy in cycles)
    m["vacuum.s"] = tr.p50("vacuum")
    m["analyze.s"] = tr.p50("analyze")
    m["analyze.jobs"] = tr.jobs("analyze")

    # Ingest + clean + schema
    m["ingest.table_s"] = tr.p50("ingest.table")
    m["ingest.jobs"] = tr.jobs("ingest.table")
    m["ingest.task_cpu_s"] = tr.cpu("ingest.table")
    cores = v["cpus"]
    m["ingest.cpu_util"] = tr.per_op("ingest.table", lambda s: sum(
        j["cpu_s"] for j in tr.jobs_under(s)) / (_dur(s) * cores))
    m["ingest.shuffle_bytes"] = tr.per_op("ingest.table", lambda s: sum(
        j["shuffle_bytes"] for j in tr.jobs_under(s)))
    m["schema.reflect_s"] = tr.p50("schema.reflect")

    # ops: Dedup
    m["dedup.s"] = tr.p50("dedup")
    m["dedup.task_cpu_s"] = tr.cpu("dedup")
    dd = tr.named("dedup")
    m["dedup.candidate_pairs"] = tr.attr_sum("dedup", "candidate_pairs") / len(dd) if dd else math.nan
    m["dedup.recall"] = v.get("dedup.recall", math.nan)

    # the benchmark's own time inside a batch cycle or a query: outside
    # every engine call it wraps (batch frames, traced file listings)
    m["cycle.self_s"] = tr.self_s("cycle")
    m["query.self_s"] = median(self_time((q["t0"], q["t1"]),
                                         [(c["t0"], c["t1"]) for c in tr.children[q["id"]]])
                               for q in queries)

    # spark: every job of the traced loop, per timed op
    t0, wall = v["loop1.t0"], v["loop1.wall_s"]
    loop_jobs = [j for j in ev["jobs"] if t0 <= j["t0"] <= t0 + wall]
    n_ops = max(1, len(_primary(ev, workload, 1)))
    m["spark.jobs"] = len(loop_jobs) / n_ops
    m["spark.tasks"] = sum(j["tasks"] for j in loop_jobs) / n_ops
    m["spark.task_cpu_s"] = sum(j["cpu_s"] for j in loop_jobs) / n_ops
    m["spark.driver_gap_frac"] = 1 - covered([(j["t0"], j["t1"]) for j in loop_jobs],
                                             t0, t0 + wall) / wall
    m["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in loop_jobs) / n_ops
    m["spark.gc_s"] = sum(j["gc_s"] for j in loop_jobs) / n_ops
    return {k: _num(x) for k, x in m.items()}


def compute(workload, ev):
    """Everything one run reports: metrics by name, notes, op counts."""
    e2e, notes = end_to_end(workload, ev, 0)
    ops = _primary(ev, workload, 0) + _primary(ev, workload, 1)
    checks = ev["checks"]
    attempted = len(ops) + len(checks)
    failed = sum(1 for s in ops if not s["ok"]) + sum(1 for c in checks if not c["ok"])
    metrics = dict(e2e)
    if ev["traced"]:
        traced, _ = end_to_end(workload, ev, 1)
        metrics.update(per_layer(workload, ev, e2e, traced))
        metrics["failed_frac"] = failed / attempted
    return {"metrics": metrics, "notes": notes, "attempted": attempted, "failed": failed,
            "failed_checks": [c for c in checks if not c["ok"]],
            "inputs_s": ev["values"]["run.inputs_s"], "checks_s": ev["values"]["run.checks_s"]}


def lines(report):
    """One human-readable line per metric: name, value, unit, note."""
    units = {**END_TO_END, **PER_LAYER}
    out = [f"{name:28s} {value:14.6g} {units[name]:6s} {report['notes'].get(name, '')}".rstrip()
           for name, value in report["metrics"].items()]
    out.append(f"{'untimed':28s} inputs {report['inputs_s']:.2f} s, checks {report['checks_s']:.2f} s")
    out.append(f"{'attempted':28s} {report['attempted']:14d}")
    out.append(f"{'failed':28s} {report['failed']:14d}")
    out += [f"FAILED CHECK {c['name']}: {c['detail']}" for c in report["failed_checks"]]
    return out
