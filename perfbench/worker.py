"""Benchmark worker: hosts the program in a fresh process and drives it
with one closed-loop client (each call waits for its result).

    python3 perfbench/worker.py CONFIG.json

CONFIG names the workload, the generated inputs, the number of warm
passes and the mode; the worker writes result.json next to it. run.py
launches it with the repository root on PYTHONPATH, so Spark's Python
workers can import the package from any working directory.

Modes:
- ``timed``: set-up, one cold pass, then ``warm_passes`` warm passes.
  Tracing is off.
- ``traced``: as timed, with every pass under job groups and the event
  log on; then one traced pass whose operator spans materialise their
  results; then the calibration probes.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import glob
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (Tracer, parse_event_log, unwrap_ops,  # noqa: E402
                   wrap_ops)


CSV_ARTIFACTS = [
    "consolidated_contacts.csv", "consolidated_lineage.csv",
    "flattened_contacts.csv", "validation_report.csv",
    "contact_quality_scored.csv", "confidence_report.csv",
    "confidence_summary.csv", "tagged_contacts.csv", "referral_targets.csv",
]

def rows_digest(rows, cols) -> str:
    """Order-insensitive digest: columns by name, cells as text (floats
    rounded to 6 places, as the oracle parity tests compare), rows
    sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    h = hashlib.sha256("\x1e".join(cols[i] for i in idx).encode())
    for line in norm:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()[:16]


def read_csv_dir(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of a Spark CSV output directory."""
    header, rows = [], []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8", newline="") as fh:
            r = csv.reader(fh)
            h = next(r, None)
            if h is None:
                continue
            header = h
            rows.extend(r)
    return header, rows


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def group_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of every
    process in this process group: the worker, its JVM, and the JVM's
    Python workers."""
    pgid, total = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2:].split()
        if int(f[2]) == pgid:
            total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def release_all(spark) -> int:
    """Drop every cached Dataset and persisted RDD between passes, so
    each pass starts like a fresh CLI invocation on a warm JVM. Returns
    the number of persisted RDDs found (the program's leftovers)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = len(rdds)
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


# --------------------------------------------------------------------------
# workloads: each pass function runs one closed-loop pass and returns
# {"ops": [(name, seconds, ok)], "digest": str | None, ...}
# --------------------------------------------------------------------------

class Contacts:
    def __init__(self, spark, cfg):
        from contacts_etl_phase21_spark import cli
        from contacts_etl_phase21_spark.pipeline import load_config
        self.spark, self.cfg, self.cli = spark, cfg, cli
        self.config = load_config(None)
        inp = cfg["inputs"]
        self.args = argparse.Namespace(
            linkedin_csv=inp["linkedin"], gmail_csv=inp["gmail"],
            mac_vcf=inp["vcf"], out_dir=cfg["out_dir"], config=None,
            log_level=None)

    def run(self, tracer: Tracer) -> dict:
        ops = []
        for stage, fn in self.cli.STAGES.items():
            t = time.perf_counter()
            ok = True
            with tracer.span(f"pipeline.{stage}"):
                try:
                    # run_validate prints its summary dict: keep it off
                    # the metrics stream
                    with contextlib.redirect_stdout(sys.stderr):
                        fn(self.spark, self.args, self.config)
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    ok = False
                    print(f"# {stage} failed: {exc!r}", file=sys.stderr)
            ops.append((stage, time.perf_counter() - t, ok))
        return {"ops": ops}

    def after_wrap(self, tracer: Tracer, notes: dict) -> list[tuple]:
        return []

    def check(self) -> dict:
        """Digest of the nine CSV artifacts (order-insensitive) and the
        artifacts' presence; F1 and uniqueness are checked by run.py."""
        out = self.cfg["out_dir"]
        h = hashlib.sha256()
        missing = []
        for name in CSV_ARTIFACTS:
            header, rows = read_csv_dir(os.path.join(out, name))
            if not header or not rows:
                missing.append(name)
            h.update(name.encode() + rows_digest(rows, header).encode())
        if not os.path.isdir(os.path.join(out, "parquet", "contacts")):
            missing.append("parquet/contacts")
        return {"digest": h.hexdigest()[:16], "missing": missing}

    def trace_patches(self, notes: dict) -> list[tuple]:
        from contacts_etl_phase21_spark.operators import \
            entity_resolution as er
        from contacts_etl_phase21_spark.pipeline import consolidate
        cli = self.cli

        def rows_out(args, kwargs, df, n, notes):
            notes["sources.load_sources.rows_out"] = n

        def keep_prepared(args, kwargs, df, n, notes):
            notes["prepared"] = df

        def keep_cfg(args, kwargs, df, n, notes):
            notes["dedupe_cfg"] = args[1] if len(args) > 1 else \
                kwargs.get("cfg")

        return [
            (cli, "load_sources", "sources.load_sources", rows_out),
            (cli, "write_parquet", "sinks.write_parquet", None),
            (cli, "write_csv", "sinks.write_csv", None),
            (cli, "validation_report", "validate.validation_report", None),
            (cli, "confidence_report", "confidence.confidence_report", None),
            (cli, "notes_blob", "tag.notes_blob", None),
            (cli, "tag_contacts", "tag.tag_contacts", None),
            (cli, "referral_targets", "tag.referral_targets", None),
            (cli, "validation_summary", "validate.validation_summary", None),
            (cli, "confidence_summary", "confidence.confidence_summary",
             None),
            (cli, "render_legacy_contacts", "sinks.render_legacy_contacts",
             None),
            (cli, "render_tagged", "sinks.render_tagged", None),
            (cli, "assert_unique_contact_ids",
             "consolidate.assert_unique_contact_ids", None),
            # imported inside run_consolidate at call time
            (er, "assert_unique_rids", "entity_resolution.assert_unique_rids",
             None),
            (consolidate, "widen", "io.widen", None),
            (consolidate, "normalize_records", "normalize.normalize_records",
             None),
            (consolidate, "prepare_for_matching",
             "entity_resolution.prepare_for_matching", keep_prepared),
            (consolidate, "cluster_records",
             "entity_resolution.cluster_records", keep_cfg),
            (consolidate, "merge_clusters", "entity_resolution.merge_clusters",
             None),
            (consolidate, "build_lineage", "entity_resolution.build_lineage",
             None),
            (consolidate, "flatten_contacts", "consolidate.flatten_contacts",
             None),
        ]

    def untimed_counts(self, notes: dict) -> dict:
        """Candidate pairs and accepted edges of the traced pass's
        prepared frame, counted outside every timed span."""
        from contacts_etl_phase21_spark.operators import \
            entity_resolution as er
        prepared = notes.get("prepared")
        if prepared is None:
            return {}
        pairs = er.candidate_pairs(prepared)
        n_pairs = pairs.count()
        cfg = notes.get("dedupe_cfg") or self.config.dedupe
        n_edges = er.accepted_edges_fast(pairs, cfg).count()
        return {"entity_resolution.candidate_pairs.count": n_pairs,
                "entity_resolution.accepted_edges.count": n_edges,
                "entity_resolution.edges_per_pair":
                    n_edges / n_pairs if n_pairs else 0.0}


class Corpus:
    RATES = {"zh": 500}   # downsample one stratum, keep the rest

    def __init__(self, spark, cfg):
        from contacts_etl_phase21_spark.operators import curation, dedup
        self.spark, self.cfg = spark, cfg
        self.curation, self.dedup = curation, dedup
        self.last_ids: list[int] = []
        self.catalyst: dict[str, list[float]] = {}

    def run(self, tracer: Tracer) -> dict:
        spark, inp = self.spark, self.cfg["inputs"]
        t = time.perf_counter()
        ok = True
        digest = None
        with tracer.span("curation.curate_corpus"):
            try:
                with tracer.span("curation.curate_corpus:build"):
                    docs = spark.read.parquet(inp["docs"])
                    ev = spark.read.parquet(inp["eval"])
                    df = self.curation.curate_corpus(
                        docs, ev, rates_permille=self.RATES)
                with tracer.span("curation.curate_corpus:action"):
                    # the client receives the survivors (a few thousand
                    # (doc_id, lang, shard) rows) — the digest is free
                    rows = df.collect()
                if tracer.sc is not None:
                    self._phases(df)
                self.dedup.release_cached(df)
                digest = rows_digest([tuple(r) for r in rows], df.columns)
                self.last_ids = [r["doc_id"] for r in rows]
            except Exception as exc:  # noqa: BLE001 - counted, reported
                ok = False
                print(f"# curate_corpus failed: {exc!r}", file=sys.stderr)
        return {"ops": [("curate_corpus", time.perf_counter() - t, ok)],
                "digest": digest}

    def _phases(self, df) -> None:
        """Catalyst analysis / optimization / planning ms of the final
        frame's QueryExecution (the one collect ran), read from its
        phase tracker as endTimeMs - startTimeMs."""
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                s = opt.get()
                self.catalyst.setdefault(ph, []).append(
                    float(s.endTimeMs() - s.startTimeMs()))

    def check(self) -> dict:
        return {}

    def trace_patches(self, notes: dict) -> list[tuple]:
        cur = self.curation

        def hits(args, kwargs, df, n, notes):
            notes["decontamination.contamination_flags.hits"] = \
                df.filter("contaminated = 1").count()

        def kept(args, kwargs, df, n, notes):
            notes["dedup.dedup_keep_first.kept_frac"] = \
                df.filter("kept = 1").count() / n if n else 0.0

        patches = [
            (cur, "contamination_flags",
             "decontamination.contamination_flags", hits),
            (cur, "dedup_keep_first", "dedup.dedup_keep_first", kept),
            (cur, "stratified_sample", "sampling.stratified_sample", None),
            (cur, "assign_shards", "sampling.assign_shards", None),
        ]
        return patches

    def after_wrap(self, tracer: Tracer, notes: dict) -> list[tuple]:
        """The quality filter is a predicate inside curate_corpus; its
        (persisted) output is the first argument of contamination_flags,
        so it is materialised and timed there, just before that
        operator's own span."""
        cur = self.curation
        inner = cur.contamination_flags
        total = self.spark.read.parquet(self.cfg["inputs"]["docs"]).count()

        def flags(qual, *args, **kwargs):
            with tracer.span("text_analysis.quality_filter"):
                notes["text_analysis.quality_filter.kept_frac"] = \
                    qual.count() / total
            return inner(qual, *args, **kwargs)

        cur.contamination_flags = flags
        return [(cur, "contamination_flags", inner)]

    def untimed_counts(self, notes: dict) -> dict:
        return {}


WORKLOADS = {"contacts_cli": Contacts, "corpus_curate": Corpus}


# --------------------------------------------------------------------------

def start_session(cfg: dict, event_log: bool) -> tuple:
    t0 = time.perf_counter()
    from contacts_etl_phase21_spark.session import get_spark
    import contacts_etl_phase21_spark.cli  # noqa: F401 - pipeline modules
    import contacts_etl_phase21_spark.operators.curation  # noqa: F401
    t1 = time.perf_counter()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": cfg["evlog_dir"],
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, {"setup_s": time.time() - cfg["t_launch"],
                   "session.import_s": t1 - t0, "session.start_s": t2 - t1}


def main() -> None:
    cfg_path = sys.argv[1]
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    traced = cfg["mode"] == "traced"
    spark, setup = start_session(cfg, event_log=traced)
    res: dict = {"setup": setup,
                 "jvm_pid": spark.sparkContext._gateway.proc.pid}
    wl = WORKLOADS[cfg["workload"]](spark, cfg)
    sc = spark.sparkContext if traced else None
    passes = []

    def one_pass(label: str, tracer: Tracer) -> dict:
        c = group_cpu_s()
        t = time.perf_counter()
        out = wl.run(tracer)
        out["wall_s"] = time.perf_counter() - t
        out["cpu_s"] = group_cpu_s() - c
        out["label"] = label
        out.update(wl.check())
        out["persisted_rdds_after"] = release_all(spark)
        passes.append(out)
        print(f"# {cfg['workload']} {label} pass: {out['wall_s']:.3f}s"
              f" wall, {out['cpu_s']:.2f}s cpu", file=sys.stderr)
        return out

    cold_tracer = Tracer(sc, "cold")
    one_pass("cold", cold_tracer)
    warm_tracers = []
    while len(warm_tracers) < cfg["warm_passes"]:
        tr = Tracer(sc, f"warm{len(warm_tracers)}")
        warm_tracers.append(tr)
        one_pass("warm", tr)
        if time.time() > cfg["warm_deadline"]:
            break
    res["rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(res["jvm_pid"])

    if traced:
        res["light_spans"] = warm_tracers[-1].spans
        tracer = Tracer(sc, "traced")
        notes: dict = {}
        undo = wrap_ops(tracer, wl.trace_patches(notes), notes)
        undo += wl.after_wrap(tracer, notes)
        try:
            tp = one_pass("traced", tracer)     # releases what it cached
        finally:
            unwrap_ops(undo)
        res["catalyst_ms"] = getattr(wl, "catalyst", {})
        res["notes"] = {k: v for k, v in notes.items()
                        if isinstance(v, (int, float))}
        res["notes"].update(wl.untimed_counts(notes))
        res["traced_spans"] = tracer.spans
        res["traced_wall_s"] = tp["wall_s"]
        # the repository's calibration probes, read-only; ~20 s, so they
        # are skipped (and read 0) when they would push the run past
        # its time limit on a slow host
        res["calib_sec"] = res["calib_1t_sec"] = 0.0
        if time.time() < cfg["calib_deadline"]:
            import bench
            res["calib_sec"] = bench.calibration_probe(spark)
            res["calib_1t_sec"] = bench.calibration_probe_1t(spark)
        else:
            print("# calibration probes skipped: run time limit",
                  file=sys.stderr)
    if isinstance(wl, Corpus):
        res["survivors"] = wl.last_ids
    res["passes"] = passes
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if traced:
        res["event_groups"] = parse_event_log(
            os.path.join(cfg["evlog_dir"], app_id))
    _write(cfg_path, res)


def _write(cfg_path: str, res: dict) -> None:
    path = os.path.join(os.path.dirname(cfg_path), "result.json")
    with open(path + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
