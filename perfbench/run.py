"""KG-construction benchmark: one workload per process.

    python3 perfbench/run.py --workload kg_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The process starts a ``local[4]`` Spark
session, generates the workload's inputs from ``--seed`` (three times,
for ``setup_s``), runs one cold build, then warm builds for ``--seconds``
seconds (at least two on kg, three on corpus_dedup), then (on kg
workloads) rebuilds over the completed catalog. The outputs of every
build are checked after the timing window. The last line of standard
output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
warm builds alternate untraced and traced, and the metrics are the
per-layer counters of the traced builds (see ``trace.py``) plus
``resume_s`` and ``error_rate``. A line before it, ``{"detail": ...}``,
carries per-build walls, job counts, output fingerprints and the host
noise probe. ``--tiny`` shrinks every input for
the smoke test (``smoke.py``).

Workloads and why each exists are in ``README.md`` beside this file.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: docs (and entities for kg_vocab) per workload; see README.md for why
SIZES = {
    "kg_vocab": {"docs": 5_000, "entities": 25_500},
    "corpus_dedup": {"docs": 3_000},
    "kg_small": {"docs": 10_000},
    "kg_large": {"docs": 1_000_000},
}
TINY = {
    "kg_vocab": {"docs": 400, "entities": 300},
    "corpus_dedup": {"docs": 400},
    "kg_small": {"docs": 400},
    "kg_large": {"docs": 800},
}
SETUP_REPS = 3
RESUME_REPS = 3
#: the first warm builds still compile and load classes: measured 10-30%
#: slower than the later ones for one build on kg_small and for two on
#: corpus_dedup (9.0, 7.2, 6.0 s), so run_s is the median of at least
#: this many
MIN_WARM = {"kg": 2, "dedup": 3}
CORES = 4
KG_TABLES = ("mentions", "nodes", "edges", "triples", "node_registry",
             "pred_counts")
MIN_PRF = 0.95
SPANS = ("materialize.fingerprint", "extract", "link.alias_dim", "link.join",
         "link.lsh", "canon", "ids", "materialize.write", "plans.pipeline",
         "operators.curation", "operators.dedup.pairs",
         "operators.dedup.clusters")
COUNTS = ("extract.mentions_rows", "link.resolved_ratio",
          "link.lsh_unresolved", "link.lsh_match_ratio", "canon.remap_rows",
          "ids.registry_rows", "materialize.rows_written",
          "materialize.files_written", "materialize.bytes_written",
          "operators.dedup.candidate_pairs", "operators.dedup.verify_ratio",
          "cache.peak_storage_bytes", "plans.pipeline.jobs_total")
UNITS = {"self_s": "s", "jobs": "count", "tasks": "count",
         "executor_run_s": "s", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("redisgraph_bulk_loader_spark") is None:
        print(f"redisgraph_bulk_loader_spark is not importable from {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        bench = Bench(spark, args, work)
        bench.setup(session_s)
        result = bench.run()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result.pop("detail")}))
    print(json.dumps(result))
    return 0


def _session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        # the host has 15 GB shared with other work; 3g holds every
        # workload's pinned frames with room to spare
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms3g")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every build's jobs back from the status store
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, spark, args, work):
        self.spark = spark
        self.args = args
        self.work = work
        self.size = (TINY if args.tiny else SIZES)[args.workload]
        self.kind = "dedup" if args.workload == "corpus_dedup" else "kg"
        self.tracer = None
        self.ops = []       # {"op", "wall", "jobs", "ok", "traced"}
        self.checks = {}    # name -> bool
        self.detail = {"workload": args.workload, "seed": args.seed,
                       "size": self.size}

    # -- set-up ------------------------------------------------------------
    def setup(self, session_s: float) -> None:
        from perfbench.gen import write_inputs

        gen = []
        for rep in range(SETUP_REPS):
            out = os.path.join(self.work, f"inputs{rep}")
            t0 = time.perf_counter()
            write_inputs(self.args.workload, self.size, self.args.seed, out,
                         2 * CORES)
            gen.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(self.inputs, ignore_errors=True)
            self.inputs = out
        self.setup_s = session_s + _median(gen)
        self.detail.update(session_s=session_s, generate_s=gen)
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark)
            self._install_wraps()

    def _install_wraps(self) -> None:
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.operators import dedup
        from redisgraph_bulk_loader_spark.plans import pipeline

        w = self.tracer.wrap
        w(GraphCatalog, "fingerprint_df", "materialize.fingerprint")
        w(GraphCatalog, "write", lambda a: (
            "extract" if a[1] == "mentions" else "materialize.write"))
        w(pipeline, "build_alias_dim", "link.alias_dim")
        w(pipeline, "link_mentions", "link.join")
        w(pipeline, "patch_unresolved", "link.join")
        w(pipeline, "_lsh_extra_mappings_scoped", "link.lsh",
          capture="lsh_extra")
        w(pipeline, "lsh_candidate_pairs", capture="lsh_pairs")
        w(pipeline, "canonicalize", "canon", capture="canon")
        w(pipeline, "build_node_registry", "ids")
        w(dedup, "minhash_lsh_dedup_pairs", capture="dedup_pairs")
        w(dedup, "_cc_assignments", "operators.dedup.clusters",
          capture="dedup_cc")

    # -- one timed build ---------------------------------------------------
    def _span(self, name, root=False):
        return self.tracer.span(name, root) if self.tracer else nullcontext()

    def _build(self, op: str, out: str, traced: bool = False) -> dict:
        from perfbench.trace import jobs_started

        rec = {"op": op, "out": out, "traced": traced, "ok": False}
        self.ops.append(rec)
        run = self._build_kg if self.kind == "kg" else self._build_dedup
        j0 = jobs_started(self.spark)
        t0 = time.perf_counter()
        try:
            with self._span("plans.pipeline", root=True) if traced else nullcontext():
                run(out)
            rec["ok"] = True
        except Exception as exc:  # a failed build counts toward error_rate
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall"] = time.perf_counter() - t0
        rec["jobs"] = jobs_started(self.spark) - j0
        if traced:
            rec["layers"] = self.tracer.layer_counters(self.tracer.take())
        return rec

    def _build_kg(self, out: str) -> None:
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.plans import build_graph

        read = self.spark.read.parquet
        build_graph(self.spark, read(f"{self.inputs}/docs"),
                    read(f"{self.inputs}/aliases"),
                    GraphCatalog(self.spark, out))

    def _build_dedup(self, out: str) -> None:
        from redisgraph_bulk_loader_spark.operators.curation import curate_corpus
        from redisgraph_bulk_loader_spark.operators.dedup import dedup_assignments

        read = self.spark.read.parquet
        docs = read(f"{self.inputs}/docs")
        with self._span("operators.curation"):
            docs.join(curate_corpus(docs, dedup="exact"), "doc_id",
                      "semi").write.parquet(f"{out}/curated")
        kept = read(f"{out}/curated")
        with self._span("operators.dedup.pairs"):
            assigned = dedup_assignments(kept, "doc_id", "text",
                                         method="minhash")
        with self._span("operators.dedup.clusters"):
            assigned.write.parquet(f"{out}/assigned")

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from redisgraph_bulk_loader_spark.cache import release_pins

        n = 0

        def out_dir():
            nonlocal n
            n += 1
            return os.path.join(self.work, f"out{n}")

        self._build("cold", out_dir())
        release_pins()
        t0 = time.perf_counter()
        warm = 0
        # a traced run adds a third build, so that the tracing overhead
        # compares the traced build with an untraced one after it
        min_warm = MIN_WARM[self.kind] + (1 if self.tracer else 0)
        while (time.perf_counter() - t0 < self.args.seconds
               or warm < min_warm):
            traced = bool(self.tracer) and warm % 2 == 1
            self._build("warm", out_dir(), traced=traced)
            release_pins()
            warm += 1
        self._resume()
        self._check()
        self.detail["noise_probe_s"] = self._noise_probe()
        metrics = (self._layer_metrics() if self.tracer
                   else self._end_to_end())
        failed = sum(not r["ok"] for r in self.ops)
        self.detail["ops"] = [{k: v for k, v in r.items()
                               if k not in ("out", "layers")}
                              for r in self.ops]
        self.detail["checks"] = self.checks
        return {"correct": failed == 0, "attempted": len(self.ops),
                "failed": failed, "metrics": metrics, "detail": self.detail}

    def _resume(self) -> None:
        """On kg workloads, rebuild over the last completed catalog: the
        read path of ``build_graph``. The operators have no resume path,
        so corpus_dedup runs none."""
        last = next((r for r in reversed(self.ops)
                     if r["ok"] and r["op"] == "warm"), None)
        if self.kind != "kg" or last is None:
            return
        for _ in range(RESUME_REPS):
            before = self._snapshot_count(last["out"])
            rec = self._build("resume", last["out"])
            if rec["ok"] and self._snapshot_count(last["out"]) != before:
                rec["ok"] = False
                rec["error"] = "resume added a catalog snapshot"

    @staticmethod
    def _snapshot_count(out: str) -> int:
        path = os.path.join(out, "_manifest.json")
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            tables = json.load(f)["tables"]
        return sum(len(t["snapshots"]) for t in tables.values())

    # -- output checks -----------------------------------------------------
    def _check(self) -> None:
        """Fingerprint every build's outputs, require them equal across
        builds, and grade the last warm build against the planted truth.
        A build failing a check counts as failed."""
        builds = [r for r in self.ops
                  if r["ok"] and r["op"] in ("cold", "warm")]
        prints = {}
        for rec in builds:
            prints[rec["out"]] = self._fingerprints(rec["out"])
        ref = prints[builds[0]["out"]] if builds else None
        for rec in builds:
            if prints[rec["out"]] != ref:
                rec["ok"] = False
                rec["error"] = "outputs differ from the cold build's"
        self.checks["outputs_identical"] = all(r["ok"] for r in builds)
        self.detail["fingerprints"] = ref
        if builds:
            graded = builds[-1]
            ok = self._grade(graded["out"])
            if not ok:
                graded["ok"] = False
                graded["error"] = "outputs fail the planted-truth check"
        if self.tracer:
            # kg builds repeat their job count exactly. On corpus_dedup
            # AQE starts one query-stage job more or less from build to
            # build (measured: 29 or 30 untraced), so a traced build may
            # differ from the untraced warm builds by that one job there.
            slack = 1 if self.kind == "dedup" else 0
            plain = [r["jobs"] for r in builds
                     if r["op"] == "warm" and not r["traced"]]
            ok = bool(plain)
            for r in builds:
                if r["traced"] and not (min(plain) - slack <= r["jobs"]
                                        <= max(plain) + slack):
                    r["ok"] = ok = False
                    r["error"] = "traced job count differs from untraced"
            self.checks["traced_jobs_match_untraced"] = ok

    def _fingerprints(self, out: str) -> dict:
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        if self.kind == "kg":
            cat = GraphCatalog(self.spark, out)
            return {t: GraphCatalog.fingerprint_df(cat.read(t))
                    for t in KG_TABLES}
        read = self.spark.read.parquet
        return {t: GraphCatalog.fingerprint_df(read(f"{out}/{t}"))
                for t in ("curated", "assigned")}

    def _grade(self, out: str) -> bool:
        read = self.spark.read.parquet
        if self.kind == "kg":
            from redisgraph_bulk_loader_spark.materialize import GraphCatalog
            from perfbench.gen import gold_triples
            from redisgraph_bulk_loader_spark.plans import triple_prf

            gold = gold_triples(self.spark, self.args.workload, self.size,
                                self.args.seed, 2 * CORES,
                                os.path.join(self.work, "gold"))
            prf = triple_prf(GraphCatalog(self.spark, out).read("triples"),
                             gold)
            self.detail["prf"] = prf
            ok = prf["precision"] >= MIN_PRF and prf["recall"] >= MIN_PRF
            self.checks["triple_prf"] = ok
            return ok
        from perfbench.gen import expected_dedup

        want = expected_dedup(self.size["docs"])
        curated = {r[0] for r in read(f"{out}/curated").select("doc_id")
                   .collect()}
        got = dict(read(f"{out}/assigned").select("doc_id", "rep_id")
                   .collect())
        self.checks["curation_drops_exact_copies"] = curated == set(want)
        self.checks["planted_groups_collapse"] = got == want
        return curated == set(want) and got == want

    # -- metrics -----------------------------------------------------------
    def _walls(self, op: str, traced: bool = False) -> list:
        return [r["wall"] for r in self.ops
                if r["op"] == op and r["ok"] and r["traced"] == traced]

    def _end_to_end(self) -> dict:
        run_s = _median(self._walls("warm"))
        cold = self._walls("cold")
        if not run_s or not cold:
            raise RuntimeError("no cold or warm build succeeded: "
                               + json.dumps(self.ops, default=str)[:2000])
        m = {"run_s": (run_s, "s"), "cold_run_s": (cold[0], "s"),
             "docs_per_s": (self.size["docs"] / run_s, "1/s"),
             "setup_s": (self.setup_s, "s"),
             "peak_rss_mb": (self._peak_rss_mb(), "MB")}
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        total = 0
        for pid in (os.getpid(), jvm):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def _layer_metrics(self) -> dict:
        traced = [r for r in self.ops
                  if r["ok"] and r["op"] == "warm" and r["traced"]]
        m = {}
        for span in SPANS:
            for c, unit in UNITS.items():
                vals = [r["layers"].get(span, {}).get(c, 0) for r in traced]
                m[f"{span}.{c}"] = (_median(vals), unit)
        m.update(self._counts(traced[-1]["out"] if traced else None))
        m["plans.pipeline.jobs_total"] = (
            _median([r["jobs"] for r in traced]), "count")
        m["cache.peak_storage_bytes"] = (self.tracer.peak_storage_bytes,
                                         "bytes")
        traced_s = _median(self._walls("warm", traced=True))
        m["trace.run_s"] = (traced_s, "s")
        # the first warm build (untraced) is still warming up
        m["trace.overhead_s"] = (
            traced_s - _median(self._walls("warm")[1:]), "s")
        m["error_rate"] = (sum(not r["ok"] for r in self.ops)
                           / max(len(self.ops), 1), "ratio")
        m["host.noise_probe_s"] = (self.detail["noise_probe_s"], "s")
        # 0 on corpus_dedup, which has no resume path
        m["resume_s"] = (_median(self._walls("resume")), "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _counts(self, out) -> dict:
        """Row counts and ratios of the last traced build, each beside its
        base; taken after the timing window from its outputs and from the
        arguments and results the wrappers kept."""
        m = {k: (0, "count") for k in COUNTS}
        for k in ("link.resolved_ratio", "link.lsh_match_ratio",
                  "operators.dedup.verify_ratio"):
            m[k] = (0.0, "ratio")
        m["materialize.bytes_written"] = (0, "bytes")
        cap = self.tracer.captured
        if out is None:
            return m
        if self.kind == "dedup":
            args, kwargs, _ = cap["dedup_pairs"]
            from redisgraph_bulk_loader_spark.operators.dedup import (
                minhash_lsh_dedup_pairs,
            )

            cands = minhash_lsh_dedup_pairs(
                *args, **dict(kwargs, threshold=0.0)).count()
            verified = cap["dedup_cc"][0][0].count()
            m["operators.dedup.candidate_pairs"] = (cands, "count")
            m["operators.dedup.verify_ratio"] = (
                verified / cands if cands else 0.0, "ratio")
            return m
        from pyspark.sql import functions as F
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        cat = GraphCatalog(self.spark, out)
        rows = {rec["table"]: rec["row_count"] for rec in cat.lineage()}
        mentions = rows.get("mentions", 0)
        resolved = cat.read("pred_counts").agg(F.sum("n_triples")).first()[0]
        m["extract.mentions_rows"] = (mentions, "count")
        m["link.resolved_ratio"] = (
            (resolved or 0) / mentions if mentions else 0.0, "ratio")
        if "lsh_pairs" in cap:
            unresolved = cap["lsh_pairs"][0][0].count()
            extra = cap["lsh_extra"][2]
            matched = extra.count() if extra is not None else 0
            m["link.lsh_unresolved"] = (unresolved, "count")
            m["link.lsh_match_ratio"] = (
                matched / unresolved if unresolved else 0.0, "ratio")
        if "canon" in cap:
            aliases = cap["canon"][0][0]
            m["canon.remap_rows"] = (
                aliases.select("canonical_id").distinct().count(), "count")
        m["ids.registry_rows"] = (rows.get("node_registry", 0), "count")
        m["materialize.rows_written"] = (
            sum(v for t, v in rows.items() if t != "mentions"), "count")
        files = size = 0
        for table in KG_TABLES[1:]:
            for dirpath, _, names in os.walk(os.path.join(out, table)):
                for fn in names:
                    if fn.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, fn))
        m["materialize.files_written"] = (files, "count")
        m["materialize.bytes_written"] = (size, "bytes")
        return m

    def _noise_probe(self) -> float:
        """Fixed JVM-only work (the probe ``bench.py`` records): its time
        shows how contended the host was during the run."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, 200_000_000, numPartitions=CORES).agg(
            F.sum("id")).collect()
        return time.perf_counter() - t0


if __name__ == "__main__":
    sys.exit(main())
