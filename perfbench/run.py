"""Lake benchmark: drives `service.LakeService` over HTTP on 127.0.0.1
with one closed-loop client and checks every reply.

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 20 --trace 0

Run from the repository root. A run measures a fixed number of cycles
per workload (7 of ingest_bulk, 4 of roundtrip at `--seconds 20`,
scaled in proportion to `--seconds`), about 40 s and 14 s on a 4-core
machine. Workloads (see perfbench/NOTES.md):

- ingest_bulk: each cycle POSTs an 80 000-point envelope over the same
  `file` key, then GETs the state.
- roundtrip: each cycle POSTs a 1 000-point envelope to one of two keys,
  GETs the state, re-registers `TelemetryData` over the lake and queries
  that key's count and max(Timestamp).

With `--trace 0` nothing inside the program is wrapped and the last line
of stdout carries the end-to-end metrics. With `--trace 1` every other
cycle runs with the program's layers wrapped in spans; the last line
carries the per-layer metrics of those cycles, and the report gives the
traced/untraced cycle ratio. Lines before the last are a readable
report. Everything the run writes goes under `.perfbench_work/` in the
current directory. Exits 1 if any output check fails.
"""

from __future__ import annotations

import argparse
import http.client
import inspect
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from statistics import median

import checks
import envelopes
from probes import ProcStats, SparkCounters, alive, descendants, dir_usage
from spans import Spans, layer_times, tail


# untimed cycles at the start of a run: the first pass over the keys,
# then warm-up
SETUP_CYCLES = 2


@dataclass(frozen=True)
class Workload:
    points: int  # points per envelope
    keys: int  # `file` keys the envelopes cycle over
    cycles: int  # measured cycles at `--seconds 20`; the count scales with it
    query: bool  # re-register and read the key back in every cycle


WORKLOADS = {
    # seven 80 000-point POSTs (~40 s on 4 cores): the median of three
    # spread twice as wide from run to run. Past about five cycles on
    # either workload the spread stops falling (the machine's own speed
    # sets it), so roundtrip keeps four and the run schedule fits
    "ingest_bulk": Workload(points=80_000, keys=1, cycles=7, query=False),
    "roundtrip": Workload(points=1_000, keys=2, cycles=4, query=True),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_p50_ms": "ms",
    "post_p50_ms": "ms",
    "ingest_points_per_s": "points/s",
    "lake_bytes_per_point": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "service.ingest_envelope.self_ms": "ms",
    "service.query.self_ms": "ms",
    "service.http_ms": "ms",
    "ingest.ingest_batch_ms": "ms",
    "lake.write_batch_files_ms": "ms",
    "lake.files_written": "count",
    "lake.bytes_written": "B",
    "lake.read_batch_tree_ms": "ms",
    "lake.files_listed": "count",
    "state.update_state_ms": "ms",
    "state.read_state_ms": "ms",
    "kql.translate_ms": "ms",
    "kql.analyze_ms": "ms",
    "kql.translations_per_query": "ratio",
    "spark.action_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "proc.driver_cpu_ms": "ms",
    "proc.jvm_cpu_ms": "ms",
    "trace.overhead_ratio": "ratio",
}

HTTP_STEPS = ("post", "get", "query")


def prepare_environment(work: str) -> None:
    """Point every scratch file Spark, the JVM and Python write into
    `work`, and size the engine to this machine."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # SPARK_LAUNCHER_OPTS reaches the short-lived JVM that assembles the
    # driver's command line; without -XX:-UsePerfData each JVM writes
    # under /tmp/hsperfdata_<user>
    jvm_opts = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = os.environ.get(var, "") + jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def layer_targets(spark) -> list[tuple[object, str, str]]:
    """The program's layer boundaries, as `(owner, attribute, span name)`:
    every public function of the ingest, lake and state modules, the
    service's three routes, the KQL entry point and translator, and the
    Spark actions (collect and parquet write)."""
    from api_to_parquet_spark import ingest, lake, service, state
    from api_to_parquet_spark.queries import kql as kql_module

    targets = []
    for module in (ingest, lake, state):
        layer = module.__name__.rsplit(".", 1)[1]
        for name, fn in vars(module).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == module.__name__
                and not name.startswith("_")
            ):
                targets.append((module, name, f"{layer}.{name}"))
    for route in ("ingest_envelope", "get_state", "query"):
        targets.append((service.LakeService, route, f"service.{route}"))
    df = spark.range(1)
    targets += [
        # service.py binds kql by name; kql() calls kql_to_sql through
        # its module's globals
        (service, "kql", "kql.kql"),
        (kql_module, "kql_to_sql", "kql.kql_to_sql"),
        (type(df), "collect", "spark.collect"),
        (type(df.write), "parquet", "spark.write"),
    ]
    return targets


class Client:
    """One closed-loop HTTP client; each call opens a fresh connection,
    as the service speaks HTTP/1.0."""

    def __init__(self, port: int) -> None:
        self.port = port

    def call(self, method: str, path: str, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            headers = {"Content-Type": "application/json"} if body else {}
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        return resp.status, json.loads(data)


class Bench:
    """One workload run: the service, its client, the checks' running
    expectations and the counters."""

    def __init__(self, workload: Workload, seed: int, work: str) -> None:
        self.wl = workload
        self.seed = seed
        self.work = work
        self.keys = envelopes.lake_keys(workload.keys)
        self.spans = Spans()
        self.failures: list[str] = []
        self.running_max: int | None = None
        self.last: dict[str, envelopes.Summary] = {}

    def start(self) -> None:
        from api_to_parquet_spark import get_spark, lake, service
        from pyspark import SparkContext

        self.lake = lake
        self.spark = get_spark("perfbench")
        self.gateway = SparkContext._gateway
        self.lake_root = os.path.join(self.work, "lake")
        svc = service.LakeService(
            self.spark, self.lake_root, os.path.join(self.work, "state")
        )
        self.httpd = service.make_server(svc)
        self.server = threading.Thread(target=self.httpd.serve_forever)
        self.server.start()
        self.client = Client(self.httpd.server_address[1])
        self.counters = SparkCounters(self.spark)
        self.proc = ProcStats(self.gateway.proc.pid)
        self.targets = layer_targets(self.spark)

    def stop(self) -> None:
        """Stop the server thread, the session and the JVM, and wait for
        each to end."""
        httpd = getattr(self, "httpd", None)
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()
            self.server.join()
        if getattr(self, "spark", None) is not None:
            # the JVM's own children (PySpark's Python worker daemon)
            # exit when the JVM does; they are not ours to wait() on
            workers = descendants(self.gateway.proc.pid)
            self.spark.stop()
            self.gateway.shutdown()
            self.gateway.proc.stdin.close()
            try:
                self.gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.gateway.proc.kill()
                self.gateway.proc.wait()
            deadline = time.monotonic() + 30
            while workers and time.monotonic() < deadline:
                workers = [p for p in workers if alive(p)]
                time.sleep(0.1)
            for pid in workers:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    # --- one cycle -------------------------------------------------------

    def _step(self, cycle: int, name: str, fn) -> tuple[dict, object]:
        """Run one client step, timed, then read the counters it moved."""
        self.spans.request = f"c{cycle}.{name}"
        cpu0 = self.proc.cpu_ms()
        with self.spans.span(f"client.{name}"):
            t0 = time.perf_counter()
            try:
                status, reply = fn()
            except (OSError, http.client.HTTPException, ValueError) as e:
                # a dropped connection or a non-JSON body is a failed
                # operation, not a crash of the benchmark
                status, reply = 0, repr(e)
            ms = (time.perf_counter() - t0) * 1000.0
        cpu1 = self.proc.cpu_ms()
        rec = {
            "cycle": cycle,
            "step": name,
            "ms": ms,
            "status": status,
            "driver_cpu_ms": cpu1["driver"] - cpu0["driver"],
            "jvm_cpu_ms": cpu1["jvm"] - cpu0["jvm"],
            **self.counters.take(),
        }
        self.spans.request = None
        if status != 200:
            self.failures.append(f"c{cycle} {name}: HTTP {status}: {str(reply)[:300]}")
        return rec, reply

    def cycle(self, i: int, traced: bool) -> list[dict]:
        env = envelopes.make(self.seed, i, self.keys[i % len(self.keys)], self.wl.points)
        if traced:
            self.spans.install(self.targets)
        try:
            return self._cycle(i, env)
        finally:
            self.spans.uninstall()

    def _cycle(self, i: int, env: envelopes.Envelope) -> list[dict]:
        recs = []
        post, reply = self._step(i, "post", lambda: self.client.call("POST", "/", env.body))
        post["points"] = env.summary.count
        recs.append(post)
        if post["status"] != 200:
            return recs
        written = dir_usage(os.path.join(self.lake_root, env.key))
        post.update(lake_files_written=written["files"], lake_bytes_written=written["bytes"])
        ts_max = env.summary.ts_max
        self.running_max = ts_max if self.running_max is None else max(self.running_max, ts_max)
        self.last[env.key] = env.summary
        self.failures += checks.check_post_reply(reply, env, self.running_max)

        get, reply = self._step(i, "get", lambda: self.client.call("GET", "/"))
        recs.append(get)
        if get["status"] != 200:
            return recs
        self.failures += checks.check_state(reply, env.time_generated, self.running_max)
        if not self.wl.query:
            return recs

        reg, _ = self._step(i, "register", self.register)
        reg["lake_files_listed"] = dir_usage(self.lake_root)["listed"]
        recs.append(reg)
        body = json.dumps({"db": "perfbench", "csl": checks.visible_query(env.key)})
        query, reply = self._step(i, "query", lambda: self.client.call("POST", "/query", body.encode()))
        recs.append(query)
        if query["status"] == 200:
            self.failures += checks.check_visible(reply, env.key, env.summary)
        return recs

    def register(self):
        """Step 3 of the round trip: the only public way for /query to
        see files written since the last registration."""
        self.lake.read_batch_tree(self.spark, self.lake_root).createOrReplaceTempView(
            "TelemetryData"
        )
        return 200, None

    def check_lake(self) -> None:
        """Every key holds exactly its last envelope (untimed)."""
        self.register()
        body = json.dumps({"db": "perfbench", "csl": checks.LAKE_QUERY}).encode()
        status, reply = self.client.call("POST", "/query", body)
        if status != 200:
            self.failures.append(f"lake check: HTTP {status}: {str(reply)[:300]}")
            return
        self.failures += checks.check_lake(reply, self.last)


def cycle_ms(records: list[dict]) -> dict[int, float]:
    """Each cycle's time: the sum of its timed steps."""
    out: dict[int, float] = {}
    for r in records:
        out[r["cycle"]] = out.get(r["cycle"], 0.0) + r["ms"]
    return out


def end_to_end(bench: Bench, records: list[dict], setup_s: float) -> tuple[dict, list[str]]:
    """The gated end-to-end metrics, plus report-only lines; called only
    when every operation succeeded."""
    by_step: dict[str, list[float]] = {}
    for r in records:
        by_step.setdefault(r["step"], []).append(r["ms"])
    cycles = cycle_ms(records)
    posts = [r for r in records if r["step"] == "post"]
    live_points = sum(s.count for s in bench.last.values())
    metrics = {
        "setup_s": setup_s,
        "cycle_p50_ms": median(list(cycles.values())),
        "post_p50_ms": median(by_step["post"]),
        "ingest_points_per_s": sum(r["points"] for r in posts)
        / (sum(r["ms"] for r in posts) / 1000.0),
        "lake_bytes_per_point": dir_usage(bench.lake_root)["bytes"] / live_points,
        "peak_rss_mb": bench.proc.peak_rss_mb(),
    }
    lines = []
    samples = {"cycle": list(cycles.values()), **by_step}
    for name, values in samples.items():
        t = tail(values)
        tail_txt = (
            f"{name}_tail_ms {t[0]:.1f} ms (p{t[1]:.1f})"
            if t
            else f"{name}_tail_ms n/a (needs more than 10 samples)"
        )
        lines.append(
            f"{name}_p50_ms {median(values):.1f} ms  {tail_txt}  n={len(values)}"
        )
    return metrics, lines


def counter_lines(records: list[dict]) -> list[str]:
    """Deterministic counters per operation; `fixed` when every operation
    of the step read the same value."""
    lines = []
    names = ["jobs", "stages", "tasks", "lake_files_written", "lake_bytes_written", "lake_files_listed"]
    for step in dict.fromkeys(r["step"] for r in records):
        recs = [r for r in records if r["step"] == step]
        parts = []
        for name in names:
            vals = [r[name] for r in recs if name in r]
            if vals:
                kind = "fixed" if min(vals) == max(vals) else f"{min(vals)}..{max(vals)}"
                parts.append(f"{name}={median(vals):g} ({kind})")
        cpu = median([r["driver_cpu_ms"] for r in recs]), median([r["jvm_cpu_ms"] for r in recs])
        parts.append(f"driver_cpu_ms={cpu[0]:.0f} jvm_cpu_ms={cpu[1]:.0f}")
        lines.append(f"per {step}: " + " ".join(parts))
    return lines


def per_layer(bench: Bench, records: list[dict], traced: set[int]) -> tuple[dict, list[str]]:
    """Per-layer metrics: each is summed over one traced cycle, then the
    median over traced cycles is reported."""
    spans_by_cycle: dict[int, list] = {c: [] for c in traced}
    for s in bench.spans.records:
        if s.request is not None:
            cycle = int(s.request[1:].split(".", 1)[0])
            if cycle in spans_by_cycle:
                spans_by_cycle[cycle].append(s)
    rows: list[dict[str, float]] = []
    translations = queries = 0
    for cycle, spans in sorted(spans_by_cycle.items()):
        lt = layer_times(spans)
        recs = [r for r in records if r["cycle"] == cycle]

        def ms(name, key="ms"):
            return lt.get(name, {}).get(key, 0.0)

        translations += ms("kql.kql_to_sql", "calls")
        queries += ms("kql.kql", "calls")
        client_http = sum(ms(f"client.{s}") for s in HTTP_STEPS)
        handler = sum(ms(f"service.{r}") for r in ("ingest_envelope", "get_state", "query"))
        rows.append(
            {
                "service.ingest_envelope.self_ms": ms("service.ingest_envelope", "self_ms"),
                "service.query.self_ms": ms("service.query", "self_ms"),
                "service.http_ms": client_http - handler,
                "ingest.ingest_batch_ms": ms("ingest.ingest_batch"),
                "lake.write_batch_files_ms": ms("lake.write_batch_files"),
                "lake.files_written": sum(r.get("lake_files_written", 0) for r in recs),
                "lake.bytes_written": sum(r.get("lake_bytes_written", 0) for r in recs),
                "lake.read_batch_tree_ms": ms("lake.read_batch_tree"),
                "lake.files_listed": sum(r.get("lake_files_listed", 0) for r in recs),
                "state.update_state_ms": ms("state.update_state"),
                "state.read_state_ms": ms("state.read_state"),
                "kql.translate_ms": ms("kql.kql_to_sql"),
                "kql.analyze_ms": ms("kql.kql", "self_ms"),
                "spark.action_ms": ms("spark.collect") + ms("spark.write"),
                "spark.jobs": sum(r["jobs"] for r in recs),
                "spark.stages": sum(r["stages"] for r in recs),
                "spark.tasks": sum(r["tasks"] for r in recs),
                "proc.driver_cpu_ms": sum(r["driver_cpu_ms"] for r in recs),
                "proc.jvm_cpu_ms": sum(r["jvm_cpu_ms"] for r in recs),
            }
        )
    metrics = {name: median([row[name] for row in rows]) for name in rows[0]}
    metrics["kql.translations_per_query"] = translations / queries if queries else 0.0
    cycles = cycle_ms(records)
    traced_ms = [v for c, v in cycles.items() if c in traced]
    plain_ms = [v for c, v in cycles.items() if c not in traced]
    # the first measured cycle always runs plain
    metrics["trace.overhead_ratio"] = median(traced_ms) / median(plain_ms)
    lines = [
        f"traced cycle_p50_ms {median(traced_ms):.1f} ms (n={len(traced_ms)})"
        f"  plain cycle_p50_ms {median(plain_ms):.1f} ms (n={len(plain_ms)})"
        f"  ratio {metrics['trace.overhead_ratio']:.3f}"
    ]
    return metrics, lines


def measure(bench: Bench, seconds: float, trace: bool, t_start: float):
    """Set-up cycles, then the workload's measured cycles scaled by
    `seconds / 20` (at least two); with `trace`, every other measured
    cycle runs with the layers wrapped, starting with the second.

    The count is fixed rather than the time: POST latency still falls
    from cycle to cycle as the JIT compiles more of Spark, so with a time
    window a faster machine would fit one more, faster cycle and shift
    the median (on `ingest_bulk`, 3 against 4 cycles moved it ~20%)."""
    for cycle in range(SETUP_CYCLES):
        bench.cycle(cycle, traced=False)
    if bench.failures:
        raise RuntimeError("set-up failed: " + "; ".join(bench.failures))
    setup_s = time.perf_counter() - t_start
    records: list[dict] = []
    traced: set[int] = set()
    count = max(2, round(bench.wl.cycles * seconds / 20))
    for cycle in range(SETUP_CYCLES, SETUP_CYCLES + count):
        if trace and (cycle - SETUP_CYCLES) % 2 == 1:
            traced.add(cycle)
        records += bench.cycle(cycle, traced=cycle in traced)
        if any(r["status"] != 200 for r in records):
            break
    return setup_s, records, traced


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "api_to_parquet_spark")):
        print("run from the repository root (no api_to_parquet_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    prepare_environment(work)

    bench = Bench(WORKLOADS[args.workload], args.seed, work)
    try:
        bench.start()
        setup_s, records, traced = measure(bench, args.seconds, bool(args.trace), t_start)
        failed = sum(1 for r in records if r["status"] != 200)
        report = [
            f"workload {args.workload} seed {args.seed} trace {args.trace}"
            f" cycles {len(cycle_ms(records))}",
            f"error_rate {failed / len(records):.4f} ({failed}/{len(records)} operations)",
        ]
        metrics: dict = {}
        if not failed:
            bench.check_lake()
            if args.trace:
                metrics, lines = per_layer(bench, records, traced)
                units = PER_LAYER_UNITS
            else:
                metrics, lines = end_to_end(bench, records, setup_s)
                units = END_TO_END_UNITS
            report += lines + counter_lines(records)
        bench.spans.dump(os.path.join(work, "spans.jsonl"))
    finally:
        bench.stop()

    result = {
        "correct": not bench.failures,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        if metrics
        else {},
    }
    for line in report:
        print(line)
    for msg in bench.failures[:20]:
        print(f"CHECK FAILED: {msg}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"report": report, "failures": bench.failures, **result}, f, indent=1)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
