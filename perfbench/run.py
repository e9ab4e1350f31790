"""Benchmark of the pgshovel_spark engine: two workloads, end-to-end
metrics with tracing off, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Workloads (BENCHMARK.json says why each was chosen):

- ``registry``: relational and LLM-data rows of the query registry and
  the scratch artifacts they read, closed loop, one client
  (registry.py);
- ``cdc_relay``: the ``cdc stream`` relay against a scratch Postgres,
  a backlog drain then an open-loop writer (cdc.py).

The inputs are a generated corpus (corpus.py; 0.01 scale, fixed corpus
seed), built once per checkout under ``$CARGO_TARGET_DIR`` (default
``.bench_build``) together with its DuckDB oracle hashes (oracle.py).
``--seed`` sets the row order of ``registry`` and the keys the CDC
writer touches.

End-to-end metrics (``--trace 0``), one meaning per workload:

=============== ============================= ===========================
metric          registry                      cdc_relay
=============== ============================= ===========================
setup_s         process start, session,       initdb and start, slot and
                warm-up pass (also the oracle publication, session, a
                check), schema pre-touch      warm-up run of the query
total_s         sum over rows of the median   backlog drain time, from
                timed row wall                the relay's restart until
                                              the sink equals the source
latency_p50_ms  median timed row wall         median row freshness
latency_tail_ms p75 timed row wall            p95 row freshness
=============== ============================= ===========================

``failed`` counts rows that raised or differ from their oracle, or CDC
keys where sink and source differ after the final drain; ``attempted``
counts the rows or keys checked.  The line before the result line is a
JSON record of the launch environment, the sample counts and the peak
RSS of the Spark side (the JVM and its Python workers).

``--trace 1`` makes an untraced run and then a traced one with the same
seed (for ``registry`` each times a single pass), and prints the per-layer metrics of the traced run (Spark event
log, the benchmark's spans, and for ``cdc_relay`` a
StreamingQueryListener) and ``trace.overhead_pct``: its ``total_s``
(``registry``) or ``latency_p50_ms`` (``cdc_relay``) against the
untraced run's.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("registry", "cdc_relay")
CORPUS_SF, CORPUS_SEED = 0.01, 7
DRIVER_MEM = "3g"
#: seconds the workload processes of one invocation may run in total;
#: past it they are stopped and the run fails
RUN_LIMIT_S = 165

E2E_UNITS = {"setup_s": "s", "total_s": "s", "latency_p50_ms": "ms",
             "latency_tail_ms": "ms"}


def layer_units() -> dict[str, str]:
    from registry import sample

    units = {"session.start_s": "s", "session.warmup_s": "s",
             "queries.build_s": "s", "queries.build_jobs": "count"}
    units.update({f"queries.{m}.total_s": "s" for m in sample()[0]})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.plan_s": "s", "spark.idle_s": "s", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "operators.scratch.build_s": "s", "operators.scratch.files": "count",
        "operators.scratch.bytes": "bytes",
    })
    for name in ("latest_offset_ms", "add_batch_ms", "commit_offsets_ms"):
        units[f"pgdatasource.{name}.p50"] = "ms"
        units[f"pgdatasource.{name}.max"] = "ms"
    units.update({
        "pgdatasource.batches": "count", "pgdatasource.rows_per_batch": "count",
        "pgwire.peek_s": "s", "pgoutput.parse_s": "s",
        "pgoutput.decode_rows_per_s": "1/s", "pg.slot_lag_bytes_max": "bytes",
        "loadgen.late_ms_max": "ms", "process.peak_rss_mb": "MB",
        "trace.overhead_pct": "%",
    })
    return units


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _program_digest() -> str:
    h = hashlib.sha1()
    for p in sorted((ROOT / "pgshovel_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() or None


def build_dir() -> Path:
    """Where the corpus, the oracle hashes, run dirs and traces live."""
    build = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    build.mkdir(parents=True, exist_ok=True)
    return build


def ensure_corpus(build: Path, sf: float) -> Path:
    """Generate the corpus once per checkout (atomic rename)."""
    from corpus import generate

    corpus = build / f"corpus-sf{sf}-s{CORPUS_SEED}"
    if not (corpus / "embeddings.parquet").exists():
        tmp = build / f"tmp-{uuid.uuid4().hex[:8]}"
        generate(tmp, sf, CORPUS_SEED)
        shutil.rmtree(corpus, ignore_errors=True)
        tmp.rename(corpus)
    return corpus


# ---- process tree ----------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, pgid, rss bytes) for every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[2]), int(fields[21]) * page)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """High-water mark of the summed RSS of the worker's descendants
    (the Spark JVM and the Python workers it forks), every 0.2 s."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak, self.done = pid, 0, threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.2):
            t = _proc_table()
            self.peak = max(self.peak, sum(t[p][2] for p in _descendants(t, self.pid) if p in t))


def _stop_group(pgid: int) -> None:
    """Terminate every process left in the worker's process group and
    wait until none is left."""
    for sig, wait_s in ((None, 10), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not any(v[1] == pgid for v in _proc_table().values()):
                return
            time.sleep(0.1)


def _stop_postgres(pg_root: Path) -> None:
    data = pg_root / "data"
    if (data / "postmaster.pid").exists():
        pg_ctl = shutil.which("pg_ctl") or "/usr/lib/postgresql/15/bin/pg_ctl"
        wrap = ["runuser", "-u", "postgres", "--"] if os.geteuid() == 0 else []
        subprocess.run(wrap + [pg_ctl, "-D", str(data), "-m", "immediate", "-w", "stop"],
                       capture_output=True, cwd=str(pg_root.parent), timeout=60)


def _pg_root(run_dir: Path) -> Path:
    """A Postgres root inside the run dir if the ``postgres`` OS user
    can reach it (and the socket path fits), else a private /tmp dir."""
    cand = run_dir / "pg"
    ok = len(str(cand)) < 90
    if ok and os.geteuid() == 0:
        ok = subprocess.run(["runuser", "-u", "postgres", "--", "test", "-x", str(run_dir)],
                            capture_output=True).returncode == 0
    if ok:
        return cand
    return Path(tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp"))


# ---- one worker run --------------------------------------------------

def run_worker(args, build: Path, corpus: Path, expected: dict, trace: bool,
               extra: dict, deadline: float) -> dict:
    run_dir = build / "runs" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    for sub in ("local", "warehouse", "tmp", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    os.chmod(run_dir, 0o755)
    pg_root = _pg_root(run_dir) if args.workload == "cdc_relay" else None
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
    })
    env.pop("PYTHONSTARTUP", None)
    cfg = {
        "root": str(ROOT), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": trace, "corpus": corpus and str(corpus),
        "expected": expected, "run_dir": str(run_dir),
        "pg_root": str(pg_root) if pg_root else None,
        "result": str(run_dir / "result.json"), **extra,
    }
    cfg_path = run_dir / "config.json"
    child = None
    try:
        cfg["spawn"] = time.time()
        cfg_path.write_text(json.dumps(cfg))
        child = subprocess.Popen([sys.executable, str(HERE / "worker.py"), str(cfg_path)],
                                 env=env, cwd=str(ROOT), stdout=sys.stderr,
                                 start_new_session=True)
        sampler = RssSampler(child.pid)
        sampler.start()
        cpu0 = _cpu_ticks()
        try:
            rc = child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        sampler.done.set()
        sampler.join()
        if rc != 0:
            raise RuntimeError(f"workload process failed (exit {rc})")
        out = json.loads((run_dir / "result.json").read_text())
        out["detail"]["peak_rss_mb"] = sampler.peak / 2**20
        # CPU time the hypervisor gave to other guests while the run
        # waited for it: a slow run with a high share was slowed from outside
        ticks = [b - a for a, b in zip(cpu0, _cpu_ticks())]
        out["detail"]["cpu_steal_pct"] = 100.0 * ticks[7] / max(1, sum(ticks))
        out["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
        if trace:  # keep the spans and the event log for later reading
            kept = build / "traces" / run_dir.name
            kept.mkdir(parents=True)
            for f in [*run_dir.glob("*.jsonl"), *(run_dir / "eventlog").iterdir()]:
                shutil.move(str(f), kept / f.name)
            out["detail"]["trace_dir"] = str(kept.relative_to(ROOT))
        return out
    finally:
        if child is not None:
            _stop_group(child.pid)
        if pg_root is not None:
            _stop_postgres(pg_root)
            shutil.rmtree(pg_root, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, extra: dict | None = None, expected_override=None) -> dict:
    if not (ROOT / "pgshovel_spark" / "__init__.py").is_file():
        raise SystemExit(f"error: the pgshovel_spark package is missing under {ROOT}")
    extra = extra or {}
    build = build_dir()
    corpus, expected = None, {}
    if args.workload == "registry":
        from oracle import expected as oracle_expected
        from registry import rows_for

        from pgshovel_spark.queries import all_oracles

        corpus = ensure_corpus(build, extra.get("sf", CORPUS_SF))
        _, picked = rows_for(extra.get("per_module"))
        expected = oracle_expected(corpus, [q for _, q in picked], all_oracles())
        expected.update(expected_override or {})

    if args.trace and args.workload == "registry":
        extra = dict(extra, passes=1)  # two runs must fit in RUN_LIMIT_S
    deadline = time.time() + RUN_LIMIT_S
    result = run_worker(args, build, corpus, expected, False, extra, deadline)
    if not args.trace:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        # the untraced run just made, same seed, is the reference the
        # traced run's overhead is measured against
        ref = result["metrics"]
        result = run_worker(args, build, corpus, expected, True, extra, deadline)
        key = "latency_p50_ms" if args.workload == "cdc_relay" else "total_s"
        layers = dict(result["layers"], **{"process.peak_rss_mb": result["detail"]["peak_rss_mb"]})
        layers["trace.overhead_pct"] = 100.0 * (result["metrics"][key] / ref[key] - 1.0)
        # a layer the workload does not use reads 0 (e.g. pgdatasource.*
        # on the registry workloads, queries.* on cdc_relay)
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in layer_units().items()}
    detail = dict(result["detail"])
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": _cpus(), "git_sha": _git_sha(),
        "program_sha1": _program_digest(), "corpus": corpus and corpus.name,
        "failed_rows": result.get("failed_rows", []), **result["env"],
    })
    return {"detail": detail, "result": {
        "correct": result["failed"] == 0 and result["attempted"] > 0,
        "attempted": result["attempted"], "failed": result["failed"],
        "metrics": metrics,
    }}


def selftest() -> int:
    """Tiny mode: one row per module on a 0.001-scale corpus and a few
    seconds of CDC.  Checks that every metric prints with its unit and
    that a wrong expected hash is counted as a failure."""
    from registry import rows_for

    ok = True
    tiny = {"sf": 0.001, "per_module": 1, "backlog_rows": 12_000}
    victim = rows_for(tiny["per_module"])[1][0][1]
    for workload, trace in (("registry", 0), ("registry", 1), ("cdc_relay", 0), ("cdc_relay", 1)):
        a = argparse.Namespace(workload=workload, seed=1, seconds=3, trace=trace)
        bad = {victim: [0, [], "0" * 16]} if workload == "registry" and not trace else None
        out = measure(a, tiny, bad)
        want = layer_units() if trace else E2E_UNITS
        got = out["result"]["metrics"]
        missing = [k for k, u in want.items() if got.get(k, {}).get("unit") != u]
        wrong = [k for k, v in got.items() if not isinstance(v["value"], (int, float))]
        print(json.dumps({"workload": workload, "trace": trace, "missing": missing,
                          "non_numeric": wrong, "failed": out["result"]["failed"],
                          "failed_rows": out["detail"]["failed_rows"]}), flush=True)
        ok &= not missing and not wrong
        ok &= out["detail"]["failed_rows"] == ([victim] if bad else [])
        ok &= (out["result"]["failed"] > 0) == bool(bad)
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="pgshovel_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    sys.path[:0] = [str(HERE), str(ROOT)]
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    out = measure(args)
    print(json.dumps(out["detail"]), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
