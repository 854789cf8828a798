"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload contacts_cli --seed 1 \
        --seconds 25 --trace 0

Generates the workload's inputs from the seed in this process, runs the
program on them in a fresh worker process (local[nproc], one
closed-loop client), checks the outputs and prints, as the last line
of stdout, one JSON object with the keys correct, attempted, failed
and metrics. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs the traced worker and reports the per-layer metrics, and
writes the span file under ``.perfbench/spans/``. Everything else
(progress, the program's own prints, Spark's log) goes to stderr.
Generated inputs, outputs and event logs live in a temporary directory
under ``.perfbench/`` and are deleted on exit, also on failure.

See perfbench/README.md for the workloads, metrics and span format.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import self_times, span_engine  # noqa: E402

# input sizes (records / documents / scale factor) and run shape
CONTACT_RECORDS = 2000
CORPUS_DOCS = 4000
RUN_LIMIT_S = 170         # whole run, set-up to result
TRACE_EXTRA_S = 60        # reserved after the warm loop in a traced run
# cold and warm pass seconds of each workload on a 4-vCPU host; a run
# makes one cold pass and as many warm passes as fit in --seconds at
# these speeds (at least one), so every run of a workload makes the
# same passes whatever the host's speed at the time
NOMINAL_PASS_S = {"contacts_cli": (38.0, 20.0),
                  "corpus_curate": (15.0, 5.5)}

# output-quality floors, set below the values measured when the
# benchmark was added (README); a run below them is incorrect
ER_F1_FLOOR = 0.8
DEDUP_RECALL_FLOOR = 0.95

# --------------------------------------------------------------------------
# host state
# --------------------------------------------------------------------------

def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------

def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in the process group?"""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int) -> None:
    """Wait for the worker's JVM and Python workers to exit; kill what
    is still there after a grace period."""
    deadline = time.time() + 20
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_alive(pgid):
            time.sleep(0.1)


def run_worker(work: str, cfg: dict, timeout: float) -> dict:
    """Run perfbench/worker.py in a fresh process group with cfg; return
    its result. The repository root goes on PYTHONPATH before the
    session starts, so Spark's Python workers (forked by the JVM, cwd
    elsewhere) can import the package."""
    cdir = tempfile.mkdtemp(prefix=f"{cfg['mode']}-", dir=work)
    cfg_path = os.path.join(cdir, "config.json")
    cfg = {**cfg, "t_launch": time.time()}
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=cdir, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        if proc.poll() is None:        # timed out or interrupted
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _reap_group(proc.pid)
    res_path = os.path.join(cdir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        raise RuntimeError(f"worker ({cfg['mode']}) exited with {code}")
    with open(res_path) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, work: str) -> dict:
    d = os.path.join(work, "inputs")
    os.makedirs(d)
    if workload == "contacts_cli":
        info = gen.contacts(seed, CONTACT_RECORDS, d)
        info["inputs"] = {"linkedin": f"{d}/linkedin.csv",
                          "gmail": f"{d}/gmail.csv", "vcf": f"{d}/mac.vcf"}
    else:
        info = gen.corpus(seed, CORPUS_DOCS, d)
        info["inputs"] = {"docs": f"{d}/docs.parquet",
                          "eval": f"{d}/eval.parquet"}
    info["dir"] = d
    return info


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def pair_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of predicted clusters against planted person ids,
    both given as record -> cluster label."""
    def pairs(sizes):
        return sum(n * (n - 1) // 2 for n in sizes)
    keys = pred.keys() & truth.keys()
    tp = pairs(Counter((pred[k], truth[k]) for k in keys).values())
    pp = pairs(Counter(pred[k] for k in keys).values())
    tt = pairs(Counter(truth[k] for k in keys).values())
    if tp == 0:
        return 0.0
    p, r = tp / pp, tp / tt
    print(f"# er pairs: precision {p:.4f} recall {r:.4f}", file=sys.stderr)
    return 2 * p * r / (p + r)


def check_contacts(info: dict, out_dir: str) -> dict:
    from worker import read_csv_dir
    problems = []
    with open(os.path.join(info["dir"], "truth.json")) as fh:
        truth_src = json.load(fh)
    header, rows = read_csv_dir(os.path.join(out_dir,
                                             "consolidated_contacts.csv"))
    ids = [r[header.index("contact_id")] for r in rows] if header else []
    if not ids or len(set(ids)) != len(ids):
        problems.append("contact_id missing or not unique")
    header, rows = read_csv_dir(os.path.join(out_dir,
                                             "consolidated_lineage.csv"))
    pred = {}
    if header:
        c, s, r = (header.index(k) for k in
                   ("contact_id", "source", "source_row_id"))
        pred = {(row[s], int(row[r])): row[c] for row in rows}
    truth = {(src, i): pid for src, pids in truth_src.items()
             for i, pid in enumerate(pids)}
    if len(pred.keys() & truth.keys()) != len(truth):
        problems.append(f"lineage covers {len(pred.keys() & truth.keys())}"
                        f" of {len(truth)} source records")
    f1 = pair_f1(pred, truth)
    if f1 < ER_F1_FLOOR:
        problems.append(f"er_pair_f1 {f1:.4f} < {ER_F1_FLOOR}")
    return {"problems": problems, "er_pair_f1": f1}


def check_corpus(res: dict, info: dict) -> dict:
    with open(os.path.join(info["dir"], "truth.json")) as fh:
        truth = json.load(fh)
    kept = set(res["survivors"])
    problems = []
    leaked = [d for d in truth["contaminated"] if d in kept]
    if leaked:
        problems.append(f"{len(leaked)} contaminated docs survived")
    if any(d in kept for d in truth["low_quality"]):
        problems.append("low-quality docs survived")
    copies = truth["near_dups"]
    recall = (sum(c not in kept for c, _ in copies) / len(copies)
              if copies else 1.0)
    if recall < DEDUP_RECALL_FLOOR:
        problems.append(f"dedup_pair_recall {recall:.4f} < "
                        f"{DEDUP_RECALL_FLOOR}")
    return {"problems": problems, "dedup_pair_recall": recall}


def tally(res: dict, info: dict, workload: str, out_dir: str) -> dict:
    """attempted / failed operations and the output checks. A pass
    whose output check fails (missing artifact, digest unlike the cold
    pass's) counts all of its operations as failed; every other failed
    check counts as one failed operation."""
    passes = res["passes"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = 0
    problems: list[str] = []
    ref = passes[0].get("digest")
    for p in passes:
        if p.get("missing") or p.get("digest") != ref:
            problems.append(f"{p['label']} pass: missing={p.get('missing')}"
                            f" digest={p.get('digest')} vs {ref}")
            failed += len(p["ops"])
        else:
            failed += sum(not op[2] for op in p["ops"])
    run_checks: list[str] = []
    extra: dict = {}
    if workload == "contacts_cli":
        extra = check_contacts(info, out_dir)
    else:
        extra = check_corpus(res, info)
    run_checks += extra.pop("problems", [])
    return {"attempted": attempted, "failed": failed + len(run_checks),
            "problems": problems + run_checks, **extra}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measured(res: dict) -> list[dict]:
    """The run's fixed schedule of passes: the cold pass and the warm
    passes (not the traced pass)."""
    return [p for p in res["passes"] if p["label"] in ("cold", "warm")]


def end_to_end(res: dict, info: dict) -> dict:
    wall = statistics.mean(p["wall_s"] for p in measured(res))
    return {
        "setup_s": _m(res["setup"]["setup_s"], "s"),
        "pass_wall_s": _m(wall, "s"),
        "records_per_s": _m(info["records"] / wall, "1/s"),
    }


def per_layer(res: dict, host: dict, tally_: dict, workload: str,
              out_dir: str, names: list[str]) -> tuple[dict, list[dict]]:
    """Every per-layer metric in `names` (0 for a layer the workload
    does not run) and the span rows for the span file."""
    groups = res["event_groups"]
    light = res["light_spans"]          # last warm pass, job groups only
    traced = res["traced_spans"]
    vals: dict[str, float] = {n: 0.0 for n in names}
    vals["session.import_s"] = res["setup"]["session.import_s"]
    vals["session.start_s"] = res["setup"]["session.start_s"]
    passes = measured(res)
    vals["passes.cold_wall_s"] = passes[0]["wall_s"]
    vals["passes.warm_wall_s"] = statistics.median(
        p["wall_s"] for p in passes[1:])
    vals["passes.cpu_s"] = statistics.mean(p["cpu_s"] for p in passes)
    vals.update({"host.nproc": host["nproc"], "host.load_1m": host["load"],
                 "host.steal_pct": host["steal_pct"],
                 "host.calib_sec": res["calib_sec"],
                 "host.calib_1t_sec": res["calib_1t_sec"]})

    def by_name(spans):
        eng = span_engine(spans, groups)
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in spans:
            acc = out[s["name"]]
            acc["wall_s"] += s["end"] - s["start"]
            for k, v in eng[s["id"]].items():
                acc[k] += v
        return out

    # engine-wide, over the last untraced (light) pass
    light_wall = res["passes"][-2]["wall_s"]
    roots = [s for s in light if s["parent"] is None]
    tot: dict[str, float] = defaultdict(float)
    eng = span_engine(light, groups)
    for s in roots:
        for k, v in eng[s["id"]].items():
            tot[k] += v
    n = host["nproc"]
    vals.update({
        "executor.run_s": tot["run_ms"] / 1e3,
        "executor.cpu_s": tot["cpu_ms"] / 1e3,
        "executor.gc_s": tot["gc_ms"] / 1e3,
        "executor.wait_s": (tot["run_ms"] - tot["cpu_ms"]) / 1e3,
        "executor.cpu_util": tot["cpu_ms"] / 1e3 / (light_wall * n),
        "scheduler.jobs": tot["jobs"], "scheduler.tasks": tot["tasks"],
        "shuffle.write_mb": tot["shuffle_write_b"] / 2**20,
        "shuffle.read_mb": tot["shuffle_read_b"] / 2**20,
        "spill.disk_mb": tot["spill_b"] / 2**20,
        "tasks.failed": tot["failed_tasks"],
        "session.peak_rss_mb": res["rss_mb"],
        "session.persisted_rdds_after":
            res["passes"][-2]["persisted_rdds_after"],
        "ops_failed_frac": tally_["failed"] / tally_["attempted"],
    })
    warm = [p["wall_s"] for p in res["passes"] if p["label"] == "warm"]
    vals["trace.overhead_frac"] = \
        res["traced_wall_s"] / statistics.median(warm) - 1
    # share of the traced pass spent inside a span below the top-level
    # call (a stage, or curate_corpus): time attributed to a layer
    selfs = self_times(traced)
    top = sum(selfs[s["id"]] for s in traced if s["parent"] is None)
    vals["trace.span_coverage"] = 1 - top / res["traced_wall_s"]

    lt = by_name(light)
    tr = by_name(traced)

    def wall(name):
        return tr[name]["wall_s"]

    def wait(name):
        return (tr[name]["run_ms"] - tr[name]["cpu_ms"]) / 1e3

    if workload == "contacts_cli":
        for f in ("normalize.normalize_records",
                  "entity_resolution.prepare_for_matching",
                  "entity_resolution.cluster_records",
                  "entity_resolution.merge_clusters"):
            vals[f"{f}.wall_s"], vals[f"{f}.wait_s"] = wall(f), wait(f)
        vals["sources.load_sources.wall_s"] = wall("sources.load_sources")
        vals["entity_resolution.build_lineage.wall_s"] = \
            wall("entity_resolution.build_lineage")
        vals["entity_resolution.cluster_records.jobs"] = \
            tr["entity_resolution.cluster_records"]["jobs"]
        for st in ("consolidate", "validate", "confidence", "tag"):
            vals[f"pipeline.{st}.wall_s"] = lt[f"pipeline.{st}"]["wall_s"]
            vals[f"pipeline.{st}.jobs"] = lt[f"pipeline.{st}"]["jobs"]
        vals["sinks.write_parquet.wall_s"] = wall("sinks.write_parquet")
        vals["sinks.write_csv.wall_s"] = wall("sinks.write_csv")
        vals["sinks.output_mb"] = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out_dir) for f in fs) / 2**20
        vals["er_pair_f1"] = tally_["er_pair_f1"]
    else:
        vals["curation.curate_corpus.build_s"] = \
            lt["curation.curate_corpus:build"]["wall_s"]
        vals["curation.curate_corpus.build_jobs"] = \
            lt["curation.curate_corpus:build"]["jobs"]
        vals["curation.curate_corpus.action_s"] = \
            lt["curation.curate_corpus:action"]["wall_s"]
        for f in ("text_analysis.quality_filter",
                  "decontamination.contamination_flags",
                  "dedup.dedup_keep_first", "sampling.stratified_sample",
                  "sampling.assign_shards"):
            vals[f"{f}.wall_s"] = wall(f)
        vals["dedup.dedup_keep_first.build_jobs"] = \
            tr["dedup.dedup_keep_first:build"]["jobs"]
        vals["dedup_pair_recall"] = tally_["dedup_pair_recall"]
        for ph, xs in res["catalyst_ms"].items():
            vals[f"catalyst.{ph}_ms"] = statistics.median(xs)
    vals.update({k: v for k, v in res["notes"].items() if k in vals})

    span_rows = []
    eng_tr = span_engine(traced, groups)
    eng_lt = span_engine(light, groups)
    for spans, eng_, sf in ((light, eng_lt, self_times(light)),
                            (traced, eng_tr, selfs)):
        for s in spans:
            span_rows.append({**s, "self_s": sf[s["id"]],
                              "engine": eng_[s["id"]]})
    return vals, span_rows


# --------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["contacts_cli", "corpus_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.time()
    # a SIGTERM from the caller unwinds through the finally blocks, so
    # the worker's process group and the temporary directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("contacts_etl_phase21_spark/__init__.py", "bench.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a "
                  "full checkout of the repository", file=sys.stderr)
            return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    host = {"nproc": nproc(), "load": os.getloadavg()[0]}
    ticks0 = cpu_ticks()

    base = os.path.join(REPO, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        info = make_inputs(a.workload, a.seed, work)
        print(f"# inputs ready after {time.time() - t_start:.2f}s",
              file=sys.stderr)
        out_dir = os.path.join(work, "out")
        cfg = {"workload": a.workload, "seed": a.seed,
               "seconds": a.seconds, "inputs": info["inputs"],
               "out_dir": out_dir, "evlog_dir": os.path.join(work, "evlog")}
        os.makedirs(cfg["evlog_dir"])
        mode = "traced" if a.trace else "timed"
        cold_s, warm_s = NOMINAL_PASS_S[a.workload]
        cfg["warm_passes"] = max(1, int((a.seconds - cold_s) // warm_s))
        reserve = TRACE_EXTRA_S if a.trace else 30
        cfg["warm_deadline"] = t_start + RUN_LIMIT_S - reserve
        cfg["calib_deadline"] = t_start + RUN_LIMIT_S - 40
        res = run_worker(work, {**cfg, "mode": mode},
                         RUN_LIMIT_S - (time.time() - t_start))
        ticks1 = cpu_ticks()
        host["steal_pct"] = (100.0 * (ticks1[0] - ticks0[0])
                             / max(1, ticks1[1] - ticks0[1]))
        t = tally(res, info, a.workload, out_dir)
        for p in t["problems"]:
            print(f"# check failed: {p}", file=sys.stderr)
        print("# host " + json.dumps(host), file=sys.stderr)
        if a.trace:
            names = [m["name"] for m in spec["per_layer"]]
            vals, span_rows = per_layer(res, host, t, a.workload, out_dir,
                                        names)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: _m(vals[n], units[n]) for n in names}
            sdir = os.path.join(base, "spans")
            os.makedirs(sdir, exist_ok=True)
            spath = os.path.join(sdir, f"{a.workload}-seed{a.seed}.jsonl")
            with open(spath, "w") as fh:
                for row in span_rows:
                    fh.write(json.dumps(row) + "\n")
            print(f"# spans written to {spath}", file=sys.stderr)
        else:
            metrics = end_to_end(res, info)
        print(json.dumps({"correct": not t["problems"] and t["failed"] == 0,
                          "attempted": t["attempted"], "failed": t["failed"],
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
