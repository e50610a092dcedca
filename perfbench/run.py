"""Benchmark: OSM ETL, image-tile and point-tile workloads on local Spark.

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run is one Spark session on ``local[N]`` (N = $SPARK_GRAFT_CPUS, else
the usable cores). It synthesizes the seed's inputs (cached under
``.perfbench/cache``; synthesis is timed apart from set-up), starts the
session, runs warm-up passes (they count toward ``setup_s``), then runs
timed passes for ``--seconds``. Every pass is checked against the
seed's exact counts and against the first warm-up pass's digest.

``--trace 0`` prints the end-to-end metrics of untraced passes.
``--trace 1`` runs every pass, warm-up included, layer by layer under
spans, alternates traced with untraced timed passes to measure the
tracing overhead, and prints the per-layer metrics; spans are written to
``.perfbench/traces``. The last stdout line is the result JSON; the line
before it holds run metadata (host conditions, synthesis time, seeds).
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
import traceback

import host
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# a second seed, kept out of tuning, for confirming later claims
CONFIRM_SEED = 7919
MIN_TRACED_PAIRS = 2

END_TO_END = {  # name: (unit, better)
    "job_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
LAYERS = ("session", "sources.osm_xml", "operators.osm_join", "operators.postprocess",
          "sources.kv_text", "operators.images", "plans.checkpoint", "spatial.pip",
          "spatial.tiles", "functions.s2")
LAYER_METRICS = {
    "wall_s": ("s", "lower"), "task_s": ("s", "lower"), "task_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"), "shuffle_write_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"), "spill_bytes": ("B", "lower"),
    "rows_out": ("count", "higher"), "jobs": ("count", "lower"),
    "python_s": ("s", "lower"),
}
LAYER_EXTRAS = {
    "sources.osm_xml": {"scan_passes": ("ratio", "lower")},
    "operators.osm_join": {"missing_refs": ("count", "higher")},
    "operators.postprocess": {"features_per_entity": ("ratio", "higher")},
    "sources.kv_text": {"bytes_written": ("B", "lower")},
    "operators.images": {"ok_ratio": ("ratio", "higher")},
    "plans.checkpoint": {"waves": ("count", "lower"), "files_written": ("count", "lower"),
                         "bytes_written": ("B", "lower"), "reread_bytes": ("B", "lower")},
    "spatial.pip": {"hit_ratio": ("ratio", "higher"), "broadcast_bytes": ("B", "lower")},
}
PASS_METRICS = {
    "pass.traced_s": ("s", "lower"), "pass.untraced_s": ("s", "lower"),
    "pass.trace_overhead_s": ("s", "lower"), "pass.layer_share": ("ratio", "higher"),
    "pass.resume_s": ("s", "lower"), "pass.stored_bytes_per_input_byte": ("ratio", "lower"),
}
# Spark's Python-worker SQL timings on every Python node: booting new
# workers, and running (which already covers "time to initialize")
PYTHON_WORKER_TIMES = ("/time to start Python workers", "/time to run Python workers")


def per_layer_schema() -> dict[str, tuple[str, str]]:
    out = {}
    for layer in LAYERS:
        for m, spec in {**LAYER_METRICS, **LAYER_EXTRAS.get(layer, {})}.items():
            out[f"{layer}.{m}"] = spec
    out.update(PASS_METRICS)
    return out


# ------------------------------------------------------------------ session
def isolate_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write under ``work``,
    and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str, event_dir: str | None):
    from osm2geojson_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     # 4.1 defaults to zstd, and there is no zstandard module
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> list[int]:
    """Stop Spark and its JVM, wait for every child process to end (killing
    any still alive after a minute); returns pids that outlived even that."""
    from pyspark import SparkContext

    children = [p for p in host.tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = host.wait_gone(children)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return host.wait_gone(left, timeout=10)


# ----------------------------------------------------------------- measuring
def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, pass_id: str, session_s: float) -> dict[str, float]:
    """One traced pass → every per-layer metric (0 for layers it skips)."""
    vals = {k: 0.0 for k in per_layer_schema() if not k.startswith("pass.")}
    vals["session.wall_s"] = session_s
    counts: dict[str, dict] = {layer: {} for layer in LAYERS}
    for sp in tracer.spans:
        if sp.pass_id != pass_id or sp.name not in counts:
            continue
        L, s = sp.name, sp.spark
        vals[f"{L}.wall_s"] += tracer.self_time(sp)
        for m in ("task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "jobs"):
            vals[f"{L}.{m}"] += s.get(m, 0)
        sql = s.get("sql", {})
        vals[f"{L}.python_s"] += sum(v for k, v in sql.items()
                                     if k.endswith(PYTHON_WORKER_TIMES))
        c = counts[L]
        for k, v in sp.counts.items():
            c[k] = c.get(k, 0) + (v or 0)
        c["input_records"] = c.get("input_records", 0) + s.get("input_records", 0)
        c["input_bytes"] = c.get("input_bytes", 0) + s.get("input_bytes", 0)
        c["candidates"] = c.get("candidates", 0) + sql.get(
            "ArrowEvalPython/number of output rows", 0)
        c["bhj_bytes"] = c.get("bhj_bytes", 0) + sum(
            v for k, v in sql.items() if k.startswith("BroadcastExchange") and
            k.endswith("/data size"))
    for L, c in counts.items():
        vals[f"{L}.rows_out"] = c.get("rows_out", 0)

    def ratio(a, b):
        return a / b if b else 0.0

    x, j, p, k = (counts[n] for n in ("sources.osm_xml", "operators.osm_join",
                                      "operators.postprocess", "sources.kv_text"))
    vals["sources.osm_xml.scan_passes"] = ratio(x.get("input_records", 0), x.get("xml_lines", 0))
    vals["operators.osm_join.missing_refs"] = j.get("missing_refs", 0)
    vals["operators.postprocess.features_per_entity"] = ratio(
        p.get("rows_out", 0), p.get("entities_in", 0))
    vals["sources.kv_text.bytes_written"] = k.get("bytes_written", 0)
    im, cp, pip = (counts[n] for n in ("operators.images", "plans.checkpoint", "spatial.pip"))
    vals["operators.images.ok_ratio"] = ratio(im.get("ok", 0), im.get("seen", 0))
    for m in ("waves", "files_written", "bytes_written"):
        vals[f"plans.checkpoint.{m}"] = cp.get(m, 0)
    vals["plans.checkpoint.reread_bytes"] = cp.get("input_bytes", 0)
    vals["spatial.pip.hit_ratio"] = ratio(pip.get("hits", 0), pip.get("candidates", 0))
    vals["spatial.pip.broadcast_bytes"] = pip.get("bhj_bytes", 0) + pip.get(
        "py_broadcast_bytes", 0)
    return vals


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, size: str):
        import workloads

        self.w = workloads.WORKLOADS[workload]()
        self.W = workloads
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.size = self.w.sizes[size]
        self.work = os.path.join(STATE, "work", str(os.getpid()))
        self.passes: list[dict] = []
        self.reference: dict | None = None
        self.tracer = None

    def one_pass(self, pass_id: str, traced: bool, reference: bool = False) -> dict:
        out = os.path.join(self.work, "out", pass_id)
        rec = {"id": pass_id, "traced": traced, "reference": reference, "ok": False}
        cpu0, t0 = host.tree_cpu_s(), time.perf_counter()
        try:
            if traced:
                with self.tracer.span("pass", pass_id):
                    result = self.w.traced(self.spark, out, self.tracer, pass_id, reference)
            else:
                result = self.w.run(self.spark, out, reference)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            chk = self.w.check(self.spark, out, result)
            if self.reference is None:
                self.reference = chk["digest"]
            elif chk["digest"] != self.reference:
                raise self.W.CheckFailed(
                    f"digest {chk['digest']} != reference pass {self.reference}")
            rec.update(chk, ok=True)
        except self.W.CheckFailed as ex:
            rec["error"] = f"check failed: {ex}"
        except Exception as ex:  # noqa: BLE001 — a failed pass is counted, the run goes on
            rec["error"] = "".join(traceback.format_exception_only(ex)).strip()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.passes.append(rec)
        return rec

    def execute(self) -> tuple[dict, dict]:
        try:
            return self._execute()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _execute(self) -> tuple[dict, dict]:
        meta = {"workload": self.w.name, "seed": self.seed, "size": self.size,
                "confirm_seed": CONFIRM_SEED, "trace": self.trace,
                "host_start": host.stamp()}
        os.makedirs(self.work, exist_ok=True)
        isolate_env(self.work)
        event_dir = os.path.join(self.work, "events") if self.trace else None
        t0 = time.perf_counter()
        self.spark = start_session(self.work, event_dir)
        session_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = spans.Tracer(self.spark.sparkContext)
            # recorded after the fact: the tracer needs the session
            self.tracer.spans.append(
                spans.Span("session", "setup", 0, None, t0, t0 + session_s))
        try:
            meta["synth_s"] = self.w.prepare(self.spark, os.path.join(STATE, "cache"),
                                             self.seed, self.size)
            warm = [self.one_pass(f"warmup-{i}", self.trace, reference=i == 0)
                    for i in range(self.w.warmup)]
            setup_s = session_s + sum(p.get("wall_s", 0) for p in warm)
            timed: list[dict] = []
            with host.RssSampler() as rss:
                t_start = time.perf_counter()
                while (time.perf_counter() - t_start < self.seconds
                       or len(timed) < (2 * MIN_TRACED_PAIRS if self.trace else self.w.min_timed)):
                    traced = self.trace and len(timed) % 2 == 1
                    timed.append(self.one_pass(f"timed-{len(timed)}", traced))
        finally:
            left = stop_session(self.spark)
        meta["processes_left"] = left
        meta["host_end"] = host.stamp()
        meta["session_s"] = session_s
        meta["passes"] = self.passes

        plain = [p for p in timed if not p["traced"]]
        ok = [p for p in plain if p["ok"]]
        job_s = median([p["wall_s"] for p in ok])
        e2e = {
            "job_s": job_s,
            "rows_per_s": self.w.records / job_s if job_s else 0.0,
            "cpu_s": median([p["cpu_s"] for p in ok]),
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup_s,
        }
        meta["extras"] = {k: median([p[k] for p in ok if k in p])
                          for k in ("resume_s", "stored_bytes_per_input_byte")}
        failed = sum(not p["ok"] for p in timed)
        correct = all(p["ok"] for p in self.passes)
        if not self.trace:
            metrics = {k: (e2e[k], END_TO_END[k][0]) for k in END_TO_END}
        else:
            meta["end_to_end"] = e2e
            self.tracer.attach_event_log(event_dir)
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            meta["spans"] = os.path.join(
                trace_dir, f"{self.w.name}-seed{self.seed}-{os.getpid()}.json")
            self.tracer.dump(meta["spans"])
            metrics = self.layer_summary(timed, session_s, meta["extras"])
        result = {"correct": correct, "attempted": len(timed), "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        return meta, result

    def layer_summary(self, timed, session_s, extras) -> dict:
        schema = per_layer_schema()
        traced = [p for p in timed if p["traced"] and p["ok"]]
        per_pass = [layer_metrics(self.tracer, p["id"], session_s) for p in traced]
        out = {k: (median([v[k] for v in per_pass]), schema[k][0])
               for k in schema if not k.startswith("pass.")}
        roots = {sp.pass_id: sp for sp in self.tracer.spans if sp.name == "pass"}
        shares = [sum(self.tracer.self_time(sp) for sp in self.tracer.spans
                      if sp.pass_id == p["id"] and sp.name in LAYERS)
                  / (roots[p["id"]].end - roots[p["id"]].start) for p in traced]
        t_s = median([p["wall_s"] for p in traced])
        u_s = median([p["wall_s"] for p in timed if not p["traced"] and p["ok"]])
        out.update({
            "pass.traced_s": (t_s, "s"), "pass.untraced_s": (u_s, "s"),
            "pass.trace_overhead_s": (t_s - u_s, "s"),
            "pass.layer_share": (median(shares), "ratio"),
            "pass.resume_s": (extras["resume_s"], "s"),
            "pass.stored_bytes_per_input_byte": (extras["stored_bytes_per_input_byte"], "ratio"),
        })
        return out


# --------------------------------------------------------------------- smoke
def smoke(seed: int) -> int:
    """Each workload (point_tiles too) at tiny size with the trace on, in
    its own process. Asserts: every metric in BENCHMARK.json prints with
    its unit, spans nest, self times are >= 0, and self times sum to no
    more than their pass."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for w in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
               "--seconds", "1", "--trace", "1", "--size", "smoke"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            problems.append(f"{w}: exit {proc.returncode}: {proc.stderr[-2000:]}")
            continue
        meta, res = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want_layer:
            problems.append(f"{w}: per-layer metrics/units differ from BENCHMARK.json")
        if set(meta["end_to_end"]) != set(want_e2e) or any(
                not isinstance(v, float) or v <= 0 for v in meta["end_to_end"].values()):
            problems.append(f"{w}: end-to-end metrics differ from BENCHMARK.json")
        if not res["correct"] or res["failed"]:
            problems.append(f"{w}: output check failed: "
                            f"{[p.get('error') for p in meta['passes'] if not p['ok']]}")
        with open(meta["spans"]) as f:
            spans = {s["id"]: s for s in json.load(f)}
        for s in spans.values():
            if s["self_s"] < 0:
                problems.append(f"{w}: span {s['id']} {s['name']} self time {s['self_s']}")
            par = spans.get(s["parent"])
            if s["parent"] is not None and (
                    par is None or par["pass"] != s["pass"]
                    or s["start_s"] < par["start_s"] or s["end_s"] > par["end_s"]):
                problems.append(f"{w}: span {s['id']} {s['name']} is not inside its parent")
        for root in (s for s in spans.values() if s["name"] == "pass"):
            total = sum(s["self_s"] for s in spans.values()
                        if s["pass"] == root["pass"] and s["name"] != "pass")
            if total > root["end_s"] - root["start_s"] + 1e-6:
                problems.append(f"{w}: pass {root['pass']} self times exceed its wall")
        print(f"smoke {w}: {len(spans)} spans, {len(got)} per-layer metrics, "
              f"attempted {res['attempted']}", flush=True)
    for p in problems:
        print("SMOKE FAIL", p)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload tiny with the trace on and assert on it")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke(args.seed)
    if not args.workload:
        ap.error("--workload is required")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    meta, result = run.execute()
    print(json.dumps({"perfbench": meta}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
