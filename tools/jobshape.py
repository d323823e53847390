"""Compare the Spark job shape of traced perfbench runs.

    python3 tools/jobshape.py PARENT.json [PARENT2.json ...] CHANGE.json

Each file holds the output of one `perfbench/run.py ... --trace 1` run;
its last JSON line is read. The last file is the change, every earlier
one a run of the parent. Every job-count metric (`*.jobs`, `spark.jobs`,
`spark.tasks`, `sql.jobs_per_query`) and every skip-shape metric
(`sql.dirs_scanned_frac`, `merge.dirs_rewritten_frac`,
`delete.dvs_per_op`) is printed with the parent runs' maximum beside the
change. They are near-deterministic for a fixed workload and seed, but
not exactly: two traced seed-901 runs of one tree gave `update.jobs` 12
and 13, `spark.tasks` 79.5 and 75 and `merge.dirs_rewritten_frac` 0.4375
and 0.4167, because the time-bounded untraced loop sometimes runs a
second cycle and the traced cycle then starts from another table state.
So give several parent runs: the script exits 1 if any metric of the
change exceeds the maximum over the parent runs, else 0.

The commit-layer metrics (`commit.gens`, `commit.meta_bytes_per_gen`)
are printed too but never fail the run: two traced runs of one tree at
seed 901 gave `cdc_apply` `commit.meta_bytes_per_gen` 1421.2 and 1413.3,
so a rise there can be run-to-run noise.
"""
import json
import sys

EXACT = ("spark.jobs", "spark.tasks", "sql.jobs_per_query")
# how much data a query or DML op touched: more is worse, like more jobs
SKIP = ("sql.dirs_scanned_frac", "merge.dirs_rewritten_frac",
        "delete.dvs_per_op")
# printed for comparison only: not deterministic between runs
INFO = ("commit.gens", "commit.meta_bytes_per_gen")


def last_json(path):
    """The metrics of the last line of `path` that is a JSON object."""
    with open(path) as f:
        lines = [ln.strip() for ln in f if ln.strip().startswith("{")]
    for ln in reversed(lines):
        try:
            return json.loads(ln)["metrics"]
        except (ValueError, KeyError):
            continue
    raise SystemExit(f"{path}: no JSON result line")


def job_metrics(metrics):
    return {k: v["value"] for k, v in metrics.items()
            if k.endswith(".jobs") or k in EXACT or k in SKIP or k in INFO}


def fmt(v):
    return "-" if v is None else f"{v:g}"


def parent_max(parents):
    """Per metric, the maximum over the parent runs that report it."""
    out = {}
    for run in parents:
        for k, v in job_metrics(run).items():
            out[k] = v if k not in out else max(out[k], v)
    return out


def compare(parents, change):
    """(report lines, names of the metrics that rose above every parent)."""
    a, b = parent_max(parents), job_metrics(change)
    head = "parent" if len(parents) == 1 else f"max of {len(parents)}"
    lines = [f"{'metric':<26}{head:>12}{'change':>12}"]
    rose = []
    for k in sorted(set(a) | set(b)):
        pa, ch = a.get(k), b.get(k)
        flag = ""
        if pa is not None and ch is not None and ch > pa:
            if k in INFO:
                flag = "  (rose; not gated)"
            else:
                rose.append(k)
                flag = "  ROSE"
        lines.append(f"{k:<26}{fmt(pa):>12}{fmt(ch):>12}{flag}")
    return lines, rose


def main(argv):
    if len(argv) < 2:
        raise SystemExit("usage: python3 tools/jobshape.py PARENT.json "
                         "[PARENT2.json ...] CHANGE.json")
    lines, rose = compare([last_json(p) for p in argv[:-1]], last_json(argv[-1]))
    print("\n".join(lines))
    if rose:
        print("job or skip shape rose: " + ", ".join(rose))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
